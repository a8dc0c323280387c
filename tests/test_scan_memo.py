"""The per-version scan memo of `ManifestSnapshotTable`.

Each published holder version's aligned scan and deletion-vector frame
is built once per handle and reused by later reads.  A reused frame is
only right while the files, commit and declared schema it was built
for still hold, so every test here warms a handle's memo, changes the
table under it, and compares the warm handle's read with a fresh
handle's (which has nothing memoized).
"""

from __future__ import annotations

import pytest

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.collect import (
    run_concurrently,
)

SCHEMA = "day int, id long, x int, tag string"


def _handle(spark, path, **kw):
    return ManifestSnapshotTable(
        spark, path, keys=["day", "id"], order_cols=["x"],
        partition_by=["day"], stats_cols=["id"], bloom_cols=["id"], **kw,
    )


def _batch(spark, ids, x, days=3):
    return spark.createDataFrame(
        [(i % days, i, x, f"t{x}") for i in ids], SCHEMA
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_as_fresh(spark, warm, read):
    """``read(handle)`` on the warm handle equals it on a fresh handle:
    same rows, same column names, types and order."""
    fresh = _handle(spark, warm.path)
    got, want = read(warm), read(fresh)
    assert got.dtypes == want.dtypes
    assert _rows(got) == _rows(want)
    return got


@pytest.fixture()
def table(spark, tmp_path):
    t = _handle(spark, str(tmp_path / "t"))
    t.upsert(_batch(spark, range(30), 1))
    t.upsert(_batch(spark, range(0, 30, 3), 2))  # rewrites day=0 only
    return t


def test_warm_reads_reuse_memoized_scans(spark, table):
    table.read().collect()
    first = dict(table._scan_memo)
    assert first, "a read of published versions memoizes their scans"
    table.read().collect()
    assert table._scan_memo == first  # nothing rebuilt
    # the memo holds only versions the latest manifest references
    assert {k[1] for k in first} <= set(table.manifest().values())


def test_memo_drops_versions_the_latest_manifest_left(spark, table):
    table.read().collect()
    table.upsert(_batch(spark, range(30), 3))  # rewrites every day
    _same_as_fresh(spark, table, lambda t: t.read())
    assert {k[1] for k in table._scan_memo} == {3}


def test_unpublished_versions_are_never_memoized(spark, table):
    v = table.versions()[-1]
    table.read().collect()
    # a commit scanning its own files: same files, no `_SUCCESS` yet
    import os

    os.rename(
        os.path.join(table._vdir(v), "_SUCCESS"),
        os.path.join(table._vdir(v), "_SUCCESS.hold"),
    )
    try:
        table._scan_memo.clear()
        df = table._read_fragments(
            {"day=0": v}, align=table._manifest_doc(v - 1)
        )
        assert df.count() == 10
        assert not table._scan_memo
    finally:
        os.rename(
            os.path.join(table._vdir(v), "_SUCCESS.hold"),
            os.path.join(table._vdir(v), "_SUCCESS"),
        )


def test_rollback_then_recommit_of_the_same_version_misses(spark, table):
    _rows(table.read())
    _rows(table.read_where("id", 3, 3)[0])
    v = table.versions()[-1]
    # another handle in this process rolls back and re-commits version
    # v, so the warm handle reads no manifest in between: its entries
    # for v survive, under the old commit's stamp
    other = _handle(spark, table.path)
    other.rollback(v - 1)
    assert other.upsert(_batch(spark, range(0, 30, 3), 9)) == v
    got = _same_as_fresh(spark, table, lambda t: t.read())
    assert {r["x"] for r in got.filter("day = 0").collect()} == {9}
    _same_as_fresh(
        spark, table, lambda t: t.read_where("id", 3, 3)[0]
    )


def test_add_column_default_then_widen_after_a_warm_read(spark, table):
    _rows(table.read())
    _rows(table.read_where("id", 4, 4)[0])
    table.add_column("bonus", "int", initial_default=7)
    got = _same_as_fresh(spark, table, lambda t: t.read())
    assert {r["bonus"] for r in got.collect()} == {7}
    _same_as_fresh(spark, table, lambda t: t.read_where("id", 4, 4)[0])
    table.widen_column("x", "bigint")
    got = _same_as_fresh(spark, table, lambda t: t.read())
    assert dict(got.dtypes)["x"] == "bigint"
    _same_as_fresh(spark, table, lambda t: t.read_where("id", 4, 4)[0])


def test_vacuum_then_time_travel(spark, tmp_path):
    t = _handle(spark, str(tmp_path / "t"), keep_versions=2)
    for x in range(1, 5):
        t.upsert(_batch(spark, range(x, 30, 4), x))
        _rows(t.read())
        _rows(t.read(t.versions()[0]))
    t.vacuum()
    for v in t.versions():
        _same_as_fresh(spark, t, lambda h, v=v: h.read(v))
    gone = min(t.versions()) - 1
    with pytest.raises(ValueError):
        t.read(gone)


def test_deletion_vectors_after_a_warm_read(spark, table):
    keys = spark.createDataFrame([(0, 3), (1, 4)], "day int, id long")
    _rows(table.read())
    table.delete_dv(keys)
    _rows(table.read())
    # a second vector on the same fragments carries the first forward
    table.delete_dv(spark.createDataFrame([(0, 6)], "day int, id long"))
    got = _same_as_fresh(spark, table, lambda t: t.read())
    assert {r["id"] for r in got.collect()}.isdisjoint({3, 4, 6})
    _same_as_fresh(spark, table, lambda t: t.read_where("id", 3, 6)[0])


def test_concurrent_point_probes_on_one_handle(spark, table):
    table.delete_dv(spark.createDataFrame([(1, 7)], "day int, id long"))
    ids = list(range(0, 30, 2))
    got = run_concurrently(
        spark,
        [
            lambda i=i: _rows(table.read_where_eq([("id", i)])[0])
            for i in ids
        ],
    )
    fresh = _handle(spark, table.path)
    assert got == [_rows(fresh.read_where_eq([("id", i)])[0]) for i in ids]
    assert all(len(rows) == 1 for rows in got)


def test_a_second_handle_commits_between_two_reads(spark, table):
    _rows(table.read())
    other = _handle(spark, table.path)
    other.upsert(_batch(spark, range(1, 30, 3), 5))  # rewrites day=1
    got = _same_as_fresh(spark, table, lambda t: t.read())
    assert {r["x"] for r in got.filter("day = 1").collect()} == {5}
    _same_as_fresh(spark, table, lambda t: t.read_where("id", 1, 1)[0])


def test_pruned_to_nothing_keeps_the_read_schema(spark, table):
    full = table.read_where("id", 0, 100)[0]
    empty, kept, total, _fk, _ft = table.read_where("id", 1000, 2000)
    assert kept == 0 and total == 3
    assert empty.dtypes == full.dtypes
    sc = spark.sparkContext
    sc.setJobGroup("empty-read", "empty-read")
    try:
        assert empty.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("empty-read")
    eq_empty = table.read_where_eq([("id", 1000)])[0]
    assert eq_empty.dtypes == full.dtypes
    assert eq_empty.collect() == []
