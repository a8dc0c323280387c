"""Merge-on-read DELETE via deletion vectors (Delta deletion vectors /
Iceberg v3 position deletes) on `ManifestSnapshotTable`.

Pinned semantics: a DV commit writes ONLY a positional sidecar (no data
rewrite — the commit has no data dir); every read path (read,
read_where_all, read_where_eq, count_rows, metadata_min_max, changes,
tail_changes) sees live content; vectors accumulate across DV commits;
any rewriting commit (upsert/merge/CoW delete/compact) reads live and
MATERIALIZES the touched fragments' vectors; a fully-emptied fragment
leaves the manifest; vacuum keeps dv holder versions alive; replaying
a delete is a no-op; IncrementalAggView treats a dv-only commit as a
fragment change.  A property test replays random upsert / dv-delete /
CoW-delete / compact sequences against a plain dict model.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)

SCHEMA = "day int, k int, v string, seq int"


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="dv_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, **kw):
    base = dict(
        keys=["day", "k"], order_cols=["seq"], partition_by=["day"],
    )
    base.update(kw)
    return ManifestSnapshotTable(spark, os.path.join(root, "t"), **base)


def _keys(spark, pairs):
    return spark.createDataFrame(pairs, "day int, k int")


def _rows(t):
    df = t.read()
    return sorted((r.day, r.k, r.v) for r in df.collect()) if df is not None else []


def _seed(spark, t):
    t.upsert(spark.createDataFrame(
        [(0, 1, "a", 1), (0, 2, "b", 1), (0, 3, "c", 1),
         (1, 4, "d", 1), (1, 5, "e", 1)],
        SCHEMA,
    ))


def test_dv_delete_is_sidecar_only(spark, root):
    t = _mk(spark, root, stats_cols=["k"])
    _seed(spark, t)
    v2 = t.delete_dv(_keys(spark, [(0, 2), (1, 4)]))
    assert v2 == 2
    # no data files were written — only the positional sidecar
    assert not os.path.exists(t._data_dir(v2))
    assert os.path.isdir(t._dv_dir(v2))
    assert _rows(t) == [(0, 1, "a"), (0, 3, "c"), (1, 5, "e")]
    # data holders unchanged: the manifest still points at v1 files
    assert set(t.manifest().values()) == {1}
    assert t._dv_map(t._manifest_doc()) == {"day=0": 2, "day=1": 2}
    # history records the operation
    ops = {r.version: r.op for r in t.history().collect()}
    assert ops[v2] == "delete_dv"


def test_dv_replay_is_noop(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    v2 = t.delete_dv(_keys(spark, [(0, 2)]))
    assert t.delete_dv(_keys(spark, [(0, 2)])) == v2
    assert t.versions() == [1, 2]
    # a key that never existed is also a no-op
    assert t.delete_dv(_keys(spark, [(0, 99)])) == v2


def test_dv_accumulates_across_commits(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    t.delete_dv(_keys(spark, [(0, 2)]))
    v3 = t.delete_dv(_keys(spark, [(0, 3)]))
    assert _rows(t) == [(0, 1, "a"), (1, 4, "d"), (1, 5, "e")]
    # the fragment's vector moved to the newest dv commit and carries
    # BOTH doomed rows
    doc = t._manifest_doc()
    assert t._dv_map(doc)["day=0"] == v3
    assert doc["dv_rows"]["day=0"] == 2


def test_dv_delete_where(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    # NULL predicate keeps the row (SQL DELETE semantics)
    t.upsert(spark.createDataFrame([(0, 6, None, 1)], SCHEMA))
    t.delete_where_dv(F.col("v") < "c")
    assert _rows(t) == [(0, 3, "c"), (0, 6, None), (1, 4, "d"), (1, 5, "e")]


def test_rewriting_commits_materialize_vectors(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    t.delete_dv(_keys(spark, [(0, 2), (1, 4)]))
    # an upsert touching day=0 materializes ITS vector only — and must
    # not resurrect the dv-deleted row
    t.upsert(spark.createDataFrame([(0, 9, "z", 2)], SCHEMA))
    assert t._dv_map(t._manifest_doc()) == {"day=1": 2}
    assert _rows(t) == [(0, 1, "a"), (0, 3, "c"), (0, 9, "z"), (1, 5, "e")]
    # re-inserting a dv-deleted key brings it back (the vector kills
    # the OLD row position, not the key)
    t.upsert(spark.createDataFrame([(1, 4, "D", 2)], SCHEMA))
    assert (1, 4, "D") in _rows(t)
    assert t._dv_map(t._manifest_doc()) == {}


def test_cow_delete_on_dv_fragment_does_not_resurrect(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    t.delete_dv(_keys(spark, [(0, 2)]))
    t.delete(_keys(spark, [(0, 3)]))  # CoW rewrite of day=0
    assert _rows(t) == [(0, 1, "a"), (1, 4, "d"), (1, 5, "e")]
    assert t._dv_map(t._manifest_doc()) == {}


def test_compact_materializes_all_vectors(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    t.delete_dv(_keys(spark, [(0, 2), (1, 5)]))
    before = _rows(t)
    v = t.compact()
    assert _rows(t) == before
    assert t._dv_map(t._manifest_doc()) == {}
    # physically gone: the compacted files hold exactly the live rows
    raw = spark.read.parquet(t._data_dir(v))
    assert raw.count() == len(before)


def test_emptied_fragment_leaves_manifest(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    t.delete_where_dv(F.col("day") == 1)
    assert set(t.manifest()) == {"day=0"}
    assert t._dv_map(t._manifest_doc()) == {}
    t.delete_dv(_keys(spark, [(0, 1), (0, 2), (0, 3)]))
    assert t.read() is None
    assert t.manifest() == {}


def test_dv_on_partition_values_the_file_uri_escapes(spark, root):
    """Partition values whose directory name the scan's file URI
    percent-encodes (a space, '%' from Hive escaping, '+', non-ASCII)
    get vectors under their manifest fragment names: the delete commits
    with exact counts, reads drop the doomed rows, and a fragment whose
    last row dies leaves the manifest."""
    t = _mk(
        spark, root, keys=["p", "k"], order_cols=["k"], partition_by=["p"],
        stats_cols=["k"],
    )
    vals = ["a b", "a:b", "a+b", "é%x", "plain"]
    t.upsert(spark.createDataFrame(
        [(p, k) for p in vals for k in (1, 2)], "p string, k int"
    ))
    t.delete_dv(spark.createDataFrame(
        [(p, 1) for p in vals] + [("a+b", 2)], "p string, k int"
    ))
    doc = t._manifest_doc()
    frags = {t._part_key([p]) for p in vals}
    assert doc["dv_rows"] == {f: 1 for f in frags - {"p=a+b"}}
    assert set(doc["partitions"]) == frags - {"p=a+b"}
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted((p, 2) for p in vals if p != "a+b")


def test_dv_rows_naming_no_fragment_fail_the_commit(spark, root, monkeypatch):
    """A sidecar row whose `frag` matches no touched fragment fails the
    delete instead of going uncounted; the table stays at its version."""
    t = _mk(spark, root, keys=["p", "k"], order_cols=["k"], partition_by=["p"])
    t.upsert(spark.createDataFrame([("a", 1), ("a", 2)], "p string, k int"))
    v = t.versions()[-1]
    monkeypatch.setattr(F, "url_decode", lambda c: F.concat(c, F.lit("?")))
    with pytest.raises(RuntimeError, match="name no touched fragment"):
        t.delete_dv(spark.createDataFrame([("a", 1)], "p string, k int"))
    monkeypatch.undo()
    assert t.versions()[-1] == v
    assert sorted(tuple(r) for r in t.read().collect()) == [("a", 1), ("a", 2)]


def test_metadata_aggregates_stay_exact(spark, root):
    t = _mk(spark, root, stats_cols=["k"])
    _seed(spark, t)
    # delete the rows holding the global min and max of k
    t.delete_dv(_keys(spark, [(0, 1), (1, 5)]))
    rows, meta, scanned = t.count_rows()
    assert rows == 3
    assert meta == 2 and scanned == 0  # still metadata-only via dv_rows
    mn, mx, meta_mm, scanned_mm = t.metadata_min_max("k")
    assert (mn, mx) == (2, 4)  # envelope would have said (1, 5)
    assert scanned_mm == 2  # dv'd fragments are scanned for exactness
    # after compaction the envelopes are exact again
    t.compact()
    mn, mx, meta_mm, scanned_mm = t.metadata_min_max("k")
    assert (mn, mx) == (2, 4) and scanned_mm == 0


def test_pruned_reads_apply_vectors(spark, root):
    t = _mk(spark, root, stats_cols=["k"], bloom_cols=["v"])
    _seed(spark, t)
    t.delete_dv(_keys(spark, [(0, 2)]))
    got, *_ = t.read_where_all([("k", 2, 4)])
    assert sorted((r.day, r.k) for r in got.collect()) == [(0, 3), (1, 4)]
    got_eq, *_ = t.read_where_eq([("v", "b")])
    assert got_eq.collect() == []  # bloom may keep the file; the row is dead
    got_eq2, *_ = t.read_where_eq([("v", "c")])
    assert [(r.day, r.k) for r in got_eq2.collect()] == [(0, 3)]


def test_change_feed_sees_dv_deletes(spark, root):
    t = _mk(spark, root, stats_cols=["k"])
    _seed(spark, t)
    v2 = t.delete_dv(_keys(spark, [(0, 2), (1, 4)]))
    feed = t.changes(1, v2)
    got = sorted((r._change_type, r.day, r.k) for r in feed.collect())
    assert got == [("delete", 0, 2), ("delete", 1, 4)]
    # range-filtered subset feed prunes to the range and still applies
    # the vectors on both sides
    feed_w = t.changes(1, v2, where=[("k", 2, 2)])
    assert [(r._change_type, r.k) for r in feed_w.collect()] == [
        ("delete", 2)
    ]
    # cursor polling shape
    f, cur = t.tail_changes(1)
    assert cur == v2
    assert sorted((r._change_type, r.k) for r in f.collect()) == [
        ("delete", 2), ("delete", 4),
    ]


def test_vacuum_keeps_dv_holders(spark, root):
    t = _mk(spark, root, keep_versions=1)
    _seed(spark, t)                                # v1
    t.delete_dv(_keys(spark, [(0, 2)]))           # v2: dv holder
    t.upsert(spark.createDataFrame([(1, 9, "x", 2)], SCHEMA))  # v3
    t.upsert(spark.createDataFrame([(1, 9, "y", 3)], SCHEMA))  # v4
    # keep_versions=1 retains only v4; v1 (data) AND v2 (day=0's
    # vector) must survive as holders
    assert t.versions() == [4]
    assert os.path.isdir(t._dv_dir(2))
    assert _rows(t) == [
        (0, 1, "a"), (0, 3, "c"), (1, 4, "d"), (1, 5, "e"), (1, 9, "y"),
    ]


def test_time_travel_reads_each_versions_vector(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    v2 = t.delete_dv(_keys(spark, [(0, 2)]))
    v3 = t.delete_dv(_keys(spark, [(0, 3)]))
    assert sorted(r.k for r in t.read(1).collect()) == [1, 2, 3, 4, 5]
    assert sorted(r.k for r in t.read(v2).collect()) == [1, 3, 4, 5]
    assert sorted(r.k for r in t.read(v3).collect()) == [1, 4, 5]


def test_incremental_view_sees_dv_commit(spark, root):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.matview import (
        IncrementalAggView,
    )

    t = _mk(spark, root)
    _seed(spark, t)
    view = IncrementalAggView(
        spark, os.path.join(root, "v"), t,
        group_cols=["day"],
        measures=[("n", None, "count"), ("sum_k", "k", "sum")],
    )
    view.refresh()
    t.delete_dv(_keys(spark, [(0, 2)]))
    info = view.refresh()
    # exactly the dv'd fragment recomputed, the other inherited
    assert info["recomputed"] == 1 and info["inherited"] == 1
    got = {r.day: (r.n, r.sum_k) for r in view.read().collect()}
    assert got == {0: (2, 4), 1: (2, 9)}
    # and a no-op poll right after
    assert view.refresh()["version"] == -1


# ---------------------------------------------------------------------------
# Property: any interleaving of upserts, dv deletes, CoW deletes and
# compactions leaves read() equal to a plain dict model.
# ---------------------------------------------------------------------------
OPS = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), st.lists(
            st.tuples(st.integers(0, 1), st.integers(0, 4),
                      st.sampled_from("xyz")),
            min_size=1, max_size=3)),
        st.tuples(st.just("dv"), st.lists(
            st.tuples(st.integers(0, 1), st.integers(0, 4)),
            min_size=1, max_size=3)),
        st.tuples(st.just("cow"), st.lists(
            st.tuples(st.integers(0, 1), st.integers(0, 4)),
            min_size=1, max_size=3)),
        st.tuples(st.just("compact"), st.just(None)),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=OPS)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dv_matches_model(spark, ops):
    root = tempfile.mkdtemp(prefix="dv_prop_")
    try:
        t = ManifestSnapshotTable(
            spark, os.path.join(root, "t"), keys=["day", "k"],
            order_cols=["seq"], partition_by=["day"],
        )
        model: dict[tuple, str] = {}
        for i, (kind, payload) in enumerate(ops, start=1):
            if kind == "upsert":
                dedup = {(d, k): v for d, k, v in payload}
                t.upsert(spark.createDataFrame(
                    [(d, k, v, i) for (d, k), v in dedup.items()], SCHEMA
                ))
                model.update(dedup)
            elif kind in ("dv", "cow"):
                batch = list({(d, k) for d, k in payload})
                df = spark.createDataFrame(batch, "day int, k int")
                (t.delete_dv if kind == "dv" else t.delete)(df)
                for dk in batch:
                    model.pop(dk, None)
            else:
                t.compact()
            got = {
                (r.day, r.k): r.v for r in t.read().collect()
            } if t.read() is not None else {}
            assert got == model
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_clean_fragments_skip_the_anti_join(spark, root):
    """The merge-on-read tax applies only to vectored fragments: a
    pruned read that touches no vectored fragment plans NO anti-join,
    and a full read anti-joins only the vectored side."""
    t = _mk(spark, root, stats_cols=["k"])
    _seed(spark, t)
    t.delete_dv(_keys(spark, [(0, 2)]))  # vector on day=0 only
    # k in [4, 5] lives in day=1 (clean): zone maps prune day=0 away
    got, frags_kept, *_ = t.read_where_all([("k", 4, 5)])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    assert sorted(r.k for r in got.collect()) == [4, 5]
    # the full read carries exactly one anti-join (the day=0 side)
    full = t.read()
    plan_full = full._jdf.queryExecution().executedPlan().toString()
    assert plan_full.count("LeftAnti") == 1


def test_read_as_of_timestamp(spark, root):
    """TIMESTAMP AS OF time travel: commit timestamps ride the history
    metadata; a timestamp between commits resolves to the snapshot
    that was current then, across data, CoW-delete and dv commits."""
    t = _mk(spark, root)
    _seed(spark, t)
    ts1 = t._manifest_doc(1)["commit"]["ts"]
    t.delete_dv(_keys(spark, [(0, 2)]))
    ts2 = t._manifest_doc(2)["commit"]["ts"]
    t.upsert(spark.createDataFrame([(0, 9, "z", 2)], SCHEMA))
    ts3 = t._manifest_doc(3)["commit"]["ts"]
    assert t.version_as_of(ts1) == 1
    assert t.version_as_of((ts1 + ts2) / 2) == 1
    assert t.version_as_of(ts2 + 1e-4) == 2
    assert t.version_as_of(ts3 + 60) == 3
    assert sorted(r.k for r in t.read_as_of(ts2 + 1e-4).collect()) == [
        1, 3, 4, 5,
    ]
    with pytest.raises(ValueError, match="no readable snapshot"):
        t.version_as_of(ts1 - 60)


def test_dv_and_upsert_writers_interleave_safely(spark, root):
    """Optimistic concurrency over deletion-vector commits: a dv
    eraser and an upserter race on the SAME table (overlapping
    partitions, disjoint keys) through retry_commit; every commit must
    land exactly once (dense versions), the vectors must survive
    inheritance under contention, and the final state must equal the
    sequential model."""
    from concurrent.futures import ThreadPoolExecutor

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        retry_commit,
    )

    path = os.path.join(root, "t")
    t0 = ManifestSnapshotTable(
        spark, path, keys=["day", "k"], order_cols=["seq"],
        partition_by=["day"],
    )
    # seed: keys 0..9 in each of 2 partitions
    t0.upsert(spark.createDataFrame(
        [(d, k, "seed", 1) for d in (0, 1) for k in range(10)], SCHEMA,
    ))

    def eraser():
        t = ManifestSnapshotTable(
            spark, path, keys=["day", "k"], order_cols=["seq"],
            partition_by=["day"],
        )
        for k in range(0, 10, 2):  # dv-delete the even seed keys
            df = _keys(spark, [(0, k), (1, k)])
            retry_commit(lambda: t.delete_dv(df), attempts=50)

    def upserter():
        t = ManifestSnapshotTable(
            spark, path, keys=["day", "k"], order_cols=["seq"],
            partition_by=["day"],
        )
        for i in range(5):  # new keys 100..104, both partitions
            df = spark.createDataFrame(
                [(d, 100 + i, "new", 2) for d in (0, 1)], SCHEMA,
            )
            retry_commit(lambda: t.upsert(df), attempts=50)

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(lambda f: f(), [eraser, upserter]))

    t = ManifestSnapshotTable(
        spark, path, keys=["day", "k"], order_cols=["seq"],
        partition_by=["day"],
    )
    # dense version sequence: 1 seed + 5 dv + 5 upserts, none lost
    assert t.versions() == list(range(1, 12))
    want = {
        (d, k): "seed" for d in (0, 1) for k in range(10) if k % 2
    } | {(d, 100 + i): "new" for d in (0, 1) for i in range(5)}
    got = {(r.day, r.k): r.v for r in t.read().collect()}
    assert got == want
