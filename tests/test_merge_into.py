"""Conditional MERGE (merge_clauses / ManifestSnapshotTable.merge_into)
— the Delta/Iceberg MERGE INTO clause surface.

Pinned semantics: delete-before-update precedence, NULL conditions as
false, source collapsed to one row per key by recency before clause
evaluation, target-only rows always kept, additive schema evolution,
and the commit discipline (only source partitions rewritten; emptied
fragments leave the manifest; inserts may create fragments).  A
property test replays random clause scenarios against a plain dict
model.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.localframe import (
    empty_frame,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
    merge_clauses,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="ms_merge_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, **kw):
    base = dict(
        keys=["day", "k"], order_cols=["seq"], partition_by=["day"],
        stats_cols=["seq"],
    )
    base.update(kw)
    return ManifestSnapshotTable(spark, root, **base)


SCHEMA = "day int, k int, v long, seq long"


def test_clause_matrix(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(0, 1, 10, 1), (0, 2, 20, 1), (0, 3, 30, 1), (1, 4, 40, 1)],
        SCHEMA,
    ))
    src = spark.createDataFrame(
        [
            (0, 1, 99, 2),   # matched, delete cond true -> dropped
            (0, 2, 21, 0),   # matched, update cond (s.seq >= t.seq) false -> target kept
            (0, 3, 31, 2),   # matched, update cond true -> source wins
            (0, 5, 50, 2),   # unmatched, insert cond true -> inserted
            (0, 6, -1, 2),   # unmatched, insert cond (v >= 0) false -> dropped
        ],
        SCHEMA,
    )
    t.merge_into(
        src,
        when_matched_delete=F.col("s.k") == 1,
        when_matched_update=F.col("s.seq") >= F.col("t.seq"),
        when_not_matched_insert=F.col("s.v") >= 0,
    )
    got = {(r.day, r.k): (r.v, r.seq) for r in t.read().collect()}
    assert got == {
        (0, 2): (20, 1),   # update refused
        (0, 3): (31, 2),   # updated
        (0, 5): (50, 2),   # inserted
        (1, 4): (40, 1),   # target-only partition untouched
    }
    # day=1 was not in the source: its fragment must be inherited
    assert t.manifest()["day=1"] == 1


def test_delete_precedes_update_and_null_is_false(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, 10, 1), (0, 2, 20, 1)], SCHEMA))
    src = spark.createDataFrame(
        [(0, 1, 99, 9), (0, 2, None, 9)], SCHEMA
    )
    t.merge_into(
        src,
        # both clauses true for k=1: delete must win (Delta precedence)
        when_matched_delete=F.col("s.k") == 1,
        when_matched_update=F.col("s.seq") >= F.col("t.seq"),
        # NULL condition (v > 5 on NULL v) counts as false -> k=2 kept as target
        when_not_matched_insert=F.lit(True),
    )
    got = {(r.day, r.k): r.v for r in t.read().collect()}
    assert (0, 1) not in got
    # k=2: update cond s.seq>=t.seq is TRUE -> source wins, v=None
    assert got == {(0, 2): None}


def test_null_condition_counts_as_false(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 2, 20, 1)], SCHEMA))
    src = spark.createDataFrame([(0, 2, None, 9)], SCHEMA)
    t.merge_into(
        src,
        when_matched_update=F.col("s.v") > 5,  # NULL -> false -> keep target
    )
    got = {(r.day, r.k): r.v for r in t.read().collect()}
    assert got == {(0, 2): 20}


def test_source_collapsed_by_recency_before_clauses(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, 10, 5)], SCHEMA))
    # two source rows for the same key: the later one (seq=9) is the
    # one the clauses see; the earlier (seq=1, which would NOT update)
    # must be invisible
    src = spark.createDataFrame([(0, 1, 11, 1), (0, 1, 12, 9)], SCHEMA)
    t.merge_into(src, when_matched_update=F.col("s.seq") >= F.col("t.seq"))
    got = {(r.day, r.k): (r.v, r.seq) for r in t.read().collect()}
    assert got == {(0, 1): (12, 9)}


def test_merge_empties_fragment_and_creates_fragment(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, 10, 1)], SCHEMA))
    src = spark.createDataFrame([(0, 1, 0, 2), (7, 9, 90, 2)], SCHEMA)
    t.merge_into(
        src,
        when_matched_delete=F.lit(True),
        when_not_matched_insert=F.lit(True),
    )
    m = t.manifest()
    assert "day=0" not in m and "day=7" in m
    got = [(r.day, r.k, r.v) for r in t.read().collect()]
    assert got == [(7, 9, 90)]
    n, _, scanned = t.count_rows()
    assert (n, scanned) == (1, 0)


def test_merge_replay_fixed_point(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(d, k, d * 100 + k, 1) for d in range(2) for k in range(20)],
        SCHEMA,
    ))
    src = spark.createDataFrame(
        [(d, k, 7_000 + k, 2) for d in range(2) for k in range(0, 30, 3)],
        SCHEMA,
    )
    kw = dict(
        when_matched_delete=F.col("s.k") % 6 == 0,
        when_matched_update=F.col("s.seq") >= F.col("t.seq"),
        when_not_matched_insert=F.col("s.k") % 2 == 1,
    )
    t.merge_into(src, **kw)
    state1 = sorted((r.day, r.k, r.v, r.seq) for r in t.read().collect())
    t.merge_into(src, **kw)
    state2 = sorted((r.day, r.k, r.v, r.seq) for r in t.read().collect())
    # deletes already applied; updates re-apply the same source row;
    # inserted rows re-match and update to themselves
    assert state1 == state2


def test_merge_schema_evolution_additive(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame([(0, 1, 10, 1)], SCHEMA))
    src = spark.createDataFrame(
        [(0, 1, 11, 2, "tag"), (0, 2, 22, 2, None)],
        SCHEMA + ", label string",
    )
    # additive widening is an explicit opt-in since the declared
    # schema landed (r10): refused without the flag
    with pytest.raises(ValueError, match="schema_evolution=True"):
        t.merge_into(src)
    t.merge_into(src, schema_evolution=True)
    got = {(r.day, r.k): (r.v, r.label) for r in t.read().collect()}
    assert got == {(0, 1): (11, "tag"), (0, 2): (22, None)}


def test_by_source_delete_reaps_unnamed_keys(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(0, 1, 10, 1), (0, 2, 20, 1), (5, 9, 90, 1), (5, 4, 40, 1)],
        SCHEMA,
    ))
    # source names only (0,1); full-sync semantics: every target key
    # the source doesn't name and matching the condition is reaped —
    # including (5, 9), whose partition the source never touches
    src = spark.createDataFrame([(0, 1, 11, 2)], SCHEMA)
    t.merge_into(
        src,
        when_not_matched_by_source_delete=F.col("t.k") % 2 == 1,
    )
    got = {(r.day, r.k): r.v for r in t.read().collect()}
    assert got == {(0, 1): 11, (0, 2): 20, (5, 4): 40}


def test_by_source_delete_with_empty_source(spark, root):
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(0, 1, 10, 1), (1, 2, 20, 1)], SCHEMA))
    empty = empty_frame(spark, SCHEMA)
    v = t.merge_into(
        empty,
        when_not_matched_by_source_delete=F.col("t.v") >= 20,
    )
    assert v == 2
    assert {(r.day, r.k) for r in t.read().collect()} == {(0, 1)}
    # condition matching nothing: no-op, no new commit
    v2 = t.merge_into(
        empty,
        when_not_matched_by_source_delete=F.col("t.v") >= 999,
    )
    assert v2 == 2 and t.versions() == [1, 2]


def test_merge_clauses_none_target_inserts_only(spark):
    src = spark.createDataFrame([(0, 1, 10, 1), (0, 2, -5, 1)], SCHEMA)
    out = merge_clauses(
        None, src, ["day", "k"], [F.col("seq").desc()],
        when_not_matched_insert=F.col("s.v") > 0,
    )
    assert [(r.day, r.k, r.v) for r in out.collect()] == [(0, 1, 10)]


def test_unconditional_merge_equals_upsert(spark, root):
    a = _mk(spark, f"{root}/a")
    b = _mk(spark, f"{root}/b")
    b1 = spark.createDataFrame(
        [(d, k, d + k, 1) for d in range(2) for k in range(10)], SCHEMA)
    b2 = spark.createDataFrame(
        [(d, k, d * k, 2) for d in range(3) for k in range(5, 15)], SCHEMA)
    a.upsert(b1)
    a.upsert(b2)
    b.upsert(b1)
    b.merge_into(b2)  # no conditions: plain last-write-wins upsert
    ga = sorted((r.day, r.k, r.v, r.seq) for r in a.read().collect())
    gb = sorted((r.day, r.k, r.v, r.seq) for r in b.read().collect())
    assert ga == gb


# ---------------------------------------------------------------------------
# Property: merge_into over random scenarios equals a dict model that
# applies the clause table literally.  Conditions are drawn from small
# modular predicates evaluated on (source row, target row) pairs.
# ---------------------------------------------------------------------------
ROWS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 5), st.integers(-9, 9)),
    min_size=0, max_size=10,
)


@given(tgt_rows=ROWS, src_rows=ROWS, mods=st.tuples(
    st.integers(2, 4), st.integers(2, 4), st.integers(2, 4),
    st.integers(2, 4)))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_matches_model(spark, tgt_rows, src_rows, mods):
    dm, um, im, bm = mods
    root = tempfile.mkdtemp(prefix="ms_merge_prop_")
    try:
        t = ManifestSnapshotTable(
            spark, root, keys=["day", "k"], order_cols=["seq"],
            partition_by=["day"],
        )
        # dedup inputs per key (unique seq per side keeps recency
        # unambiguous: target seq=1, source seq=2)
        tgt = {(d, k): v for d, k, v in tgt_rows}
        src = {(d, k): v for d, k, v in src_rows}
        if tgt:
            t.upsert(spark.createDataFrame(
                [(d, k, v, 1) for (d, k), v in tgt.items()], SCHEMA))
        if not src:
            return  # empty source: merge_into is a documented no-op
        t.merge_into(
            spark.createDataFrame(
                [(d, k, v, 2) for (d, k), v in src.items()], SCHEMA),
            when_matched_delete=F.col("s.v") % dm == 0,
            when_matched_update=F.col("s.v") % um != 0,
            when_not_matched_insert=F.col("s.v") % im != 0,
            when_not_matched_by_source_delete=F.col("t.v") % bm == 0,
        )
        model = dict(tgt)
        for (d, k), v in list(model.items()):
            if (d, k) not in src and v % bm == 0:
                model.pop((d, k))
        for (d, k), v in src.items():
            if (d, k) in tgt:
                if v % dm == 0:
                    model.pop((d, k))
                elif v % um != 0:
                    model[(d, k)] = v
            else:
                if v % im != 0:
                    model[(d, k)] = v
        got = (
            {(r.day, r.k): r.v for r in t.read().collect()}
            if t.read() is not None
            else {}
        )
        assert got == model
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_by_source_condition_may_reference_source_side(spark, root):
    """Regression (r9 review): merge_clauses documents that the
    by-source condition may reference ``s.<col>`` (the source side is
    all-NULL on such rows — comparisons are NULL → false, and
    ``s.<col> IS NULL`` is true).  merge_into's locate scan used to
    filter the target ALONE, so any s-reference failed analysis
    instead of behaving as documented."""
    t = _mk(spark, root)
    t.upsert(spark.createDataFrame(
        [(0, 1, 10, 1), (0, 2, 20, 1), (1, 3, 30, 1)], SCHEMA,
    ))
    src = spark.createDataFrame([(0, 1, 11, 2)], SCHEMA)
    # s.k IS NULL is TRUE exactly on by-source-unmatched rows; the
    # t-side conjunct limits the reap to day 0
    t.merge_into(
        src,
        when_matched_update=F.lit(True),
        when_not_matched_by_source_delete=(
            F.col("s.k").isNull() & (F.col("t.day") == 0)
        ),
    )
    got = sorted((r.day, r.k, r.v) for r in t.read().collect())
    assert got == [(0, 1, 11), (1, 3, 30)]  # (0,2) reaped, day-1 kept
    # a pure s-comparison is NULL → false on unmatched rows: the
    # clause can never fire, and the locate must not crash either
    t.merge_into(
        empty_frame(spark, SCHEMA),
        when_not_matched_by_source_delete=F.col("s.v") > 0,
    )
    got2 = sorted((r.day, r.k, r.v) for r in t.read().collect())
    assert got2 == [(0, 1, 11), (1, 3, 30)]
