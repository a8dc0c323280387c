"""Retraction-based incremental view maintenance (DeltaAggView): the
rollup maintained from the change data feed, O(changed rows) per
refresh.

Pinned: view ≡ direct aggregate after arbitrary upsert/delete
sequences; one net-span apply ≡ per-commit applies (additive deltas
telescope); definition drift forces a rebuild instead of mixing
states; a vacuumed retention gap raises; an inconsistent feed
(negative group counts) refuses to publish; update pre-images are
emitted in pairs with their post-images.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.localframe import (
    empty_frame,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.matview import (
    DeltaAggView,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)

SCHEMA = "d int, k int, g string, x long, seq long"


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="dav_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, **kw):
    t = ManifestSnapshotTable(
        spark, os.path.join(root, "t"), keys=["d", "k"],
        order_cols=["seq"], partition_by=["d"], **kw,
    )
    v = DeltaAggView(
        spark, os.path.join(root, "v"), t,
        group_cols=["g"], sum_cols=["x"],
    )
    return t, v


def _direct(t):
    return sorted(
        (r.g, r.n, str(r.sum_x), r.nn_x)
        for r in t.read()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(26,6)"))
            .cast("decimal(32,6)")
            .alias("sum_x"),
            F.count("x").alias("nn_x"),
        )
        .collect()
    ) if t.read() is not None else []


def _view(v):
    df = v.read()
    if df is None:
        return []
    return sorted(
        (r.g, r.n, str(r.sum_x), r.nn_x) for r in df.collect()
    )


def test_span_apply_equals_per_commit_applies(spark, root):
    t, v_span = _mk(spark, root)
    v_step = DeltaAggView(
        spark, os.path.join(root, "v2"), t,
        group_cols=["g"], sum_cols=["x"],
    )
    batches = [
        [(0, 1, "a", 10, 1), (1, 2, "b", None, 1)],
        [(0, 1, "a", 99, 2), (0, 3, "a", 1, 2)],
        [(1, 4, "c", 7, 3)],
    ]
    t.upsert(spark.createDataFrame(batches[0], SCHEMA))
    v_span.refresh()
    v_step.refresh()
    for b in batches[1:]:
        t.upsert(spark.createDataFrame(b, SCHEMA))
        v_step.refresh()  # per-commit
    t.delete(spark.createDataFrame([(0, 3)], "d int, k int"))
    v_step.refresh()
    v_span.refresh()  # ONE net-span apply over three commits
    assert _view(v_span) == _view(v_step) == _direct(t)
    assert [i["mode"] for i in v_span.refresh_log] == [
        "bootstrap", "delta",
    ]


def test_definition_drift_forces_rebuild(spark, root):
    t, v = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, "a", 10, 1)], SCHEMA))
    v.refresh()
    # same path, different measure set: must rebuild, never mix
    v2 = DeltaAggView(
        spark, os.path.join(root, "v"), t,
        group_cols=["g"], sum_cols=["seq"],
    )
    info = v2.refresh()
    assert info["mode"] == "bootstrap"
    row = v2.read().collect()[0]
    assert (row.g, row.n, str(row.sum_seq)) == ("a", 1, "1.000000")


def test_retention_gap_raises(spark, root):
    t = ManifestSnapshotTable(
        spark, os.path.join(root, "t"), keys=["d", "k"],
        order_cols=["seq"], partition_by=["d"], keep_versions=1,
    )
    v = DeltaAggView(
        spark, os.path.join(root, "v"), t,
        group_cols=["g"], sum_cols=["x"],
    )
    t.upsert(spark.createDataFrame([(0, 1, "a", 1, 1)], SCHEMA))
    v.refresh()
    t.upsert(spark.createDataFrame([(0, 2, "a", 2, 2)], SCHEMA))
    t.upsert(spark.createDataFrame([(0, 3, "a", 3, 3)], SCHEMA))
    with pytest.raises(RuntimeError, match="retention gap"):
        v.refresh()


def test_inconsistent_feed_refuses_to_publish(spark, root):
    t, v = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, "a", 1, 1)], SCHEMA))
    v.refresh()
    t.delete(spark.createDataFrame([(0, 1)], "d int, k int"))
    v.refresh()  # group 'a' correctly drops to zero and disappears
    assert _view(v) == []
    # tamper the cursor back one version: re-applying the delete feed
    # would drive 'a' to -1 — the view must refuse, not publish
    vdir = v._vdir(v.versions()[-1])
    st = json.load(open(os.path.join(vdir, "state.json")))
    st["base_version"] = 1
    with open(os.path.join(vdir, "state.json"), "w") as fh:
        json.dump(st, fh)
    with pytest.raises(RuntimeError, match="negative"):
        v.refresh()


def test_update_preimages_emitted_in_pairs(spark, root):
    t, _ = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, "a", 10, 1)], SCHEMA))
    t.upsert(spark.createDataFrame([(0, 1, "a", 20, 2)], SCHEMA))
    feed = t.changes(1, 2, emit_update_preimages=True)
    got = sorted((r._change_type, r.x) for r in feed.collect())
    assert got == [("update_postimage", 20), ("update_preimage", 10)]
    # default feed unchanged
    feed0 = t.changes(1, 2)
    assert [(r._change_type, r.x) for r in feed0.collect()] == [
        ("update_postimage", 20)
    ]


def test_float_sum_source_refused(spark, root):
    t = ManifestSnapshotTable(
        spark, os.path.join(root, "t"), keys=["d", "k"],
        order_cols=["seq"], partition_by=["d"],
    )
    v = DeltaAggView(
        spark, os.path.join(root, "v"), t,
        group_cols=["g"], sum_cols=["x"],
    )
    t.upsert(spark.createDataFrame(
        [(0, 1, "a", 1.5, 1)], "d int, k int, g string, x double, seq long"
    ))
    with pytest.raises(ValueError, match="retractable"):
        v.refresh()


# ---------------------------------------------------------------------------
# Property: after ANY sequence of keyed upserts and deletes, refreshing
# (at arbitrary points) leaves the view equal to the direct aggregate.
# ---------------------------------------------------------------------------
OPS = st.lists(
    st.tuples(
        st.booleans(),  # True = upsert batch, False = delete batch
        st.lists(
            st.tuples(
                st.integers(0, 1),        # d
                st.integers(0, 4),        # k
                st.sampled_from("ab"),    # g
                st.one_of(st.none(), st.integers(-5, 5)),  # x
            ),
            min_size=1,
            max_size=4,
        ),
        st.booleans(),  # refresh after this op?
    ),
    min_size=1,
    max_size=5,
)


@given(ops=OPS)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_view_matches_direct_aggregate(spark, ops):
    root = tempfile.mkdtemp(prefix="dav_prop_")
    try:
        t, v = _mk(spark, root)
        for i, (is_upsert, rows, do_refresh) in enumerate(ops, start=1):
            if is_upsert:
                dedup = {(d, k): (g, x) for d, k, g, x in rows}
                t.upsert(spark.createDataFrame(
                    [(d, k, g, x, i) for (d, k), (g, x) in dedup.items()],
                    SCHEMA,
                ))
            else:
                t.delete(spark.createDataFrame(
                    list({(d, k) for d, k, _g, _x in rows}),
                    "d int, k int",
                ))
            if do_refresh and t.versions():
                v.refresh()
        if t.versions():
            v.refresh()
            assert _view(v) == _direct(t)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_delta_view_slots_into_streaming_sink(spark, root):
    """upsert_stream_run(view=...) is duck-typed over .base/.refresh():
    a DeltaAggView maintained per micro-batch commit must equal the
    direct aggregate after the stream drains — the full lakehouse loop
    (stream -> pruned commits -> retraction-refreshed rollup)."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.pipeline import (
        upsert_stream_run,
    )

    src_dir = os.path.join(root, "drop")
    os.makedirs(src_dir)
    rows = [(d, k, "ab"[k % 2], d * 10 + k, 1) for d in range(2)
            for k in range(6)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    t, v = _mk(spark, root)
    sdf = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).option("maxFilesPerTrigger", "1").parquet(src_dir)
    upsert_stream_run(
        spark, sdf, t, workdir=os.path.join(root, "wd"), view=v
    )
    assert _view(v) == _direct(t)
    assert all(i["mode"] in ("bootstrap", "delta", "noop")
               for i in v.refresh_log)


def test_apply_feed_from_relay_without_touching_base(spark, root):
    """Produce the CDF once (streaming relay, with pre-images), then
    maintain the view from the MATERIALIZED feed: apply_feed must
    reproduce exactly what refresh() computes, reading only feed rows
    — the produce-once / apply-many composition."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.pipeline import (
        changes_relay_run,
    )

    t, v = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(0, 1, "a", 10, 1), (1, 2, "b", 5, 1)], SCHEMA))
    v.refresh()  # bootstrap at base v1
    t.upsert(spark.createDataFrame(
        [(0, 1, "a", 20, 2), (0, 3, "b", 7, 2)], SCHEMA))
    t.delete(spark.createDataFrame([(1, 2)], "d int, k int"))
    feed = changes_relay_run(
        spark, t, workdir=os.path.join(root, "relay"),
        emit_update_preimages=True,
    )
    span = feed.filter(F.col("commit_version") > 1).drop(
        "commit_version"
    )
    info = v.apply_feed(span, base_version=t.versions()[-1])
    assert info["mode"] == "feed"
    assert _view(v) == _direct(t)
    # cursor advanced: a stale re-apply is a no-op, not a corruption
    assert v.apply_feed(span, base_version=3)["mode"] == "noop"
    # and refresh() agrees there is nothing left to do
    assert v.refresh()["mode"] == "noop"


def test_apply_feed_requires_bootstrap(spark, root):
    t, v = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, "a", 1, 1)], SCHEMA))
    with pytest.raises(RuntimeError, match="bootstrapped"):
        v.apply_feed(
            empty_frame(spark, "_change_type string, " + SCHEMA),
            base_version=1,
        )


def test_large_bigint_sums_stay_exact(spark, root):
    """Regression (r9 review): the old decimal(22,6) value cast held
    only 16 integer digits, so a legal bigint > ~1e16 overflowed to
    NULL under non-ANSI Spark and the coalesce silently zeroed it —
    sum_x corrupted while nn_x still counted the row.  The widened
    decimal(26,6) cast (20 integer digits) must carry every bigint
    exactly, through both bootstrap and retraction deltas."""
    big = 4 * 10**17  # > 1e16: overflowed the old accumulator input
    t, v = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(0, 1, "a", big, 1), (0, 2, "a", 5, 1)], SCHEMA))
    v.refresh()  # bootstrap path
    rows = {r.g: (r.n, str(r.sum_x), r.nn_x) for r in v.read().collect()}
    assert rows["a"] == (2, f"{big + 5}.000000", 2)
    # delta path: update the big row (retract big, add big+1)
    t.upsert(spark.createDataFrame([(0, 1, "a", big + 1, 2)], SCHEMA))
    assert v.refresh()["mode"] == "delta"
    rows = {r.g: (r.n, str(r.sum_x), r.nn_x) for r in v.read().collect()}
    assert rows["a"] == (2, f"{big + 6}.000000", 2)
    assert _view(v) == _direct(t)


def test_overwide_decimal_source_rejected(spark, root):
    """A decimal source the exact accumulator input (decimal(26,6))
    cannot round-trip must be refused up front, not silently lost."""
    t = ManifestSnapshotTable(
        spark, os.path.join(root, "t"), keys=["d", "k"],
        order_cols=["seq"], partition_by=["d"],
    )
    t.upsert(
        spark.createDataFrame(
            [(0, 1, "a", 1, 1)], SCHEMA
        ).withColumn("x", F.col("x").cast("decimal(38,0)"))
    )
    v = DeltaAggView(
        spark, os.path.join(root, "v"), t,
        group_cols=["g"], sum_cols=["x"],
    )
    with pytest.raises(ValueError, match="decimal\\(26,6\\)"):
        v.refresh()
    # scale too wide is refused the same way
    t2 = ManifestSnapshotTable(
        spark, os.path.join(root, "t2"), keys=["d", "k"],
        order_cols=["seq"], partition_by=["d"],
    )
    t2.upsert(
        spark.createDataFrame(
            [(0, 1, "a", 1, 1)], SCHEMA
        ).withColumn("x", F.col("x").cast("decimal(20,9)"))
    )
    v2 = DeltaAggView(
        spark, os.path.join(root, "v2"), t2,
        group_cols=["g"], sum_cols=["x"],
    )
    with pytest.raises(ValueError, match="decimal\\(26,6\\)"):
        v2.refresh()
