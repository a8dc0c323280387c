"""r14 optimization: `_compute_stats_both` serves zone maps from
parquet FOOTERS (metadata-only) instead of re-scanning every written
file with a Spark aggregate.  These tests pin the contract that made
that safe: the footer path returns EXACTLY what the Spark path
returns for integer/bool/string stats columns, and falls back to the
Spark path whenever footer statistics are not provably exact (floats,
strings too long for the writer to keep stats, date-typed columns)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="footer_stats_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, path, stats_cols, rows, schema):
    t = ManifestSnapshotTable(
        spark,
        path,
        keys=["p", "k"],
        order_cols=["k"],
        partition_by=["p"],
        stats_cols=stats_cols,
    )
    t.upsert(spark.createDataFrame(rows, schema))
    return t


def _spark_path(t, v):
    df = t.spark.read.option("basePath", t._data_dir(v)).parquet(
        t._data_dir(v)
    )
    return t._stats_over(df)


def test_footer_equals_spark_aggregate_int_cols(spark, tdir):
    rows = [
        (1, 1, 10, None),
        (1, 2, -5, 7),
        (2, 3, 99, 3),
        (2, 4, 0, None),
    ]
    t = _mk(
        spark, tdir, ["v", "w"], rows, "p int, k int, v int, w int"
    )
    v = t.versions()[-1]
    files = [
        os.path.join(dp, n)
        for dp, _s, ns in os.walk(t._data_dir(v))
        for n in ns
        if n.endswith(".parquet")
    ]
    footer = t._stats_from_footers(t._data_dir(v), files)
    assert footer is not None, "int stats cols must take the footer path"
    assert footer == _spark_path(t, v)
    # row counts exact on both tiers
    frag_stats, file_stats = footer
    assert sum(e["#rows"] for e in frag_stats.values()) == len(rows)


def test_footer_all_null_column_matches(spark, tdir):
    rows = [(1, 1, None), (1, 2, None)]
    t = _mk(spark, tdir, ["v"], rows, "p int, k int, v long")
    v = t.versions()[-1]
    files = [
        os.path.join(dp, n)
        for dp, _s, ns in os.walk(t._data_dir(v))
        for n in ns
        if n.endswith(".parquet")
    ]
    footer = t._stats_from_footers(t._data_dir(v), files)
    assert footer is not None
    assert footer == _spark_path(t, v)
    assert footer[0]["p=1"]["v"] == [None, None]


def _written_files(t, v):
    return [
        os.path.join(dp, n)
        for dp, _s, ns in os.walk(t._data_dir(v))
        for n in ns
        if n.endswith(".parquet")
    ]


def test_footer_equals_spark_aggregate_string_col(spark, tdir):
    """UTF8 string stats come from footers and equal the Spark
    aggregate: byte-wise order (a supplementary-plane character sorts
    after U+FFFF, unlike UTF-16 order), the empty string, and an
    all-NULL fragment."""
    rows = [
        (1, 1, "é"),
        (1, 2, "\U0001d11e"),
        (1, 3, "\uffff"),
        (1, 4, None),
        (2, 5, ""),
        (2, 6, "abc"),
        (3, 7, None),
    ]
    t = _mk(spark, tdir, ["v"], rows, "p int, k int, v string")
    v = t.versions()[-1]
    footer = t._stats_from_footers(t._data_dir(v), _written_files(t, v))
    assert footer is not None, "string stats cols must take the footer path"
    assert footer == _spark_path(t, v)
    assert footer[0]["p=1"]["v"] == ["é", "\U0001d11e"]
    assert footer[0]["p=2"]["v"] == ["", "abc"]
    assert footer[0]["p=3"]["v"] == [None, None]


@pytest.mark.parametrize(
    "ddl,val",
    [
        pytest.param(
            "p int, k int, v string", "\uffff" * 3000,
            id="p int, k int, v string-oversized",
        ),
        ("p int, k int, v double", 1.5),
    ],
)
def test_footer_falls_back_on_inexact_types(spark, tdir, ddl, val):
    """Float stats columns stay on the Spark-aggregate path (float
    stats misbehave on NaN), and so does a string over the writer's
    4 KiB stats limit (its footer carries no min/max).  Date/timestamp
    columns are not representable as stats_cols at all — the JSON
    manifest refuses them on either path."""
    rows = [(1, 1, val)]
    t = _mk(spark, tdir, ["v"], rows, ddl)
    v = t.versions()[-1]
    assert t._stats_from_footers(t._data_dir(v), _written_files(t, v)) is None
    # the committed envelope is still the exact one
    assert t._manifest_doc()["stats"]["p=1"]["v"] == [val, val]


def test_footer_falls_back_on_undecodable_string_stats(spark, tdir):
    """A Spark string may hold invalid UTF-8 (a cast from binary); its
    footer stats cannot be decoded, so the commit takes the Spark
    path instead of failing."""
    t = ManifestSnapshotTable(
        spark, tdir, keys=["p", "k"], order_cols=["k"], partition_by=["p"],
        stats_cols=["v"],
    )
    t.upsert(spark.range(2).select(
        F.lit(1).alias("p"), F.col("id").alias("k"),
        F.expr("cast(X'FF61' as string)").alias("v"),
    ))
    v = t.versions()[-1]
    assert t._stats_from_footers(t._data_dir(v), _written_files(t, v)) is None
    assert t._manifest_doc()["stats"]["p=1"]["#rows"] == 2


def test_commit_path_stats_unchanged_end_to_end(spark, tdir):
    """The committed manifest's envelopes (written through the footer
    path) must equal a hand-run Spark aggregate over the same files —
    the end-to-end form of the equality the unit tests pin."""
    rows = [(d, i, d * 100 + i) for d in (1, 2, 3) for i in range(50)]
    t = _mk(spark, tdir, ["v"], rows, "p int, k int, v int")
    # a second pruned commit (one partition) exercises inheritance
    t.upsert(spark.createDataFrame([(2, 999, -1)], "p int, k int, v int"))
    doc = t._manifest_doc()
    v = t.versions()[-1]
    # rewritten fragment's envelope is fresh and exact
    assert doc["stats"]["p=2"]["v"] == [-1, 249]
    assert doc["stats"]["p=2"]["#rows"] == 51
    # inherited fragments carried by reference
    assert doc["stats"]["p=1"]["v"] == [100, 149]
    # metadata-only count matches a real count
    total = sum(e["#rows"] for e in doc["stats"].values())
    assert total == t.read().count()
