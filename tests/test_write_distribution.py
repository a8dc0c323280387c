"""Focused pins for the r15 commit-write changes: the pre-write hash
distribution (one file per touched partition, key-sorted in-file) and
the explicit-schema fragment scan (manifest schema handed to the
reader, with the inference fallback staying result-identical)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)

N_DAYS = 6
ROWS = 6_000


@pytest.fixture()
def table(spark, tmp_path):
    t = ManifestSnapshotTable(
        spark,
        str(tmp_path / "t"),
        keys=["day", "id"],
        order_cols=["id"],
        partition_by=["day"],
        stats_cols=["x"],
    )
    df = (
        spark.range(ROWS)
        .withColumn("day", (F.col("id") % N_DAYS).cast("int"))
        .withColumn("x", F.col("id"))
    )
    t.upsert(df)
    return t


def _data_files(t, v):
    return sorted(
        glob.glob(os.path.join(t.path, f"v={v:05d}", "data", "*", "*.parquet"))
    )


def test_upsert_writes_one_file_per_touched_partition(table):
    files = _data_files(table, 1)
    assert len(files) == N_DAYS
    # one file per partition DIR, not several per dir
    assert len({os.path.dirname(f) for f in files}) == N_DAYS


def test_written_files_are_key_sorted(table):
    """sortWithinPartitions(keys) must survive the distribution
    exchange: zone maps on key-tracking stats columns rely on
    key-sorted files."""
    for f in _data_files(table, 1):
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert ids == sorted(ids), f


def test_scan_uses_manifest_schema_and_fallback_matches(table, spark):
    """The holder-schema fast path and the inference fallback must
    produce identical rows AND identical schemas (the alignment layer
    runs either way)."""
    fast = table.read().orderBy("day", "id").collect()
    sch, commit = table._holder_manifest(1)
    assert sch is not None and [c for c, _t in sch] == ["id", "day", "x"]
    assert commit is not None
    # a fresh handle, so no memoized scan answers for the fallback
    slow_table = ManifestSnapshotTable(
        spark, table.path, keys=["day", "id"], order_cols=["id"],
        partition_by=["day"], stats_cols=["x"],
    )
    orig = type(table)._holder_manifest
    try:
        type(table)._holder_manifest = lambda self, v: (None, None)
        slow_df = slow_table.read()
        slow = slow_df.orderBy("day", "id").collect()
    finally:
        type(table)._holder_manifest = orig
    assert fast == slow
    assert [r.asDict() for r in fast] == [r.asDict() for r in slow]


def test_holder_schema_absent_manifest_returns_none(table):
    assert table._holder_manifest(99) == (None, None)
