"""Query registry: name → (Spark callable, DuckDB oracle SQL).

Every implemented operator from SURVEY.md §2 registers here; the driver
contract (`__spark_entry__.py`) re-exports it.  Entries without oracle
SQL (genuinely non-SQL-expressible ops) get a rows-only check.

Determinism rules every entry follows (so order-insensitive value-hash
comparison against DuckDB is exact):
- double sums go through DECIMAL (exact, partition-order independent);
- computed doubles are ROUNDed at the edge;
- every computed column is aliased identically in Spark and SQL;
- top-k orderings always include a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


# DuckDB SQL string, a lazy (sf_dir) -> SQL builder for oracles whose
# literals are derived from fixture data (e.g. sample-trained IVF
# centroids), or None → rows-only check.
Oracle = str | Callable[[str], str] | None


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: Oracle
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def resolve_oracle(qd: QueryDef, sf_dir: str) -> str | None:
    """Materialize a QueryDef's oracle SQL for a concrete fixture dir.

    Most oracles are static strings; data-dependent ones (literal
    centroids, etc.) are callables resolved against the SAME parquet the
    query will read, so Spark and DuckDB see identical literals."""
    if callable(qd.oracle):
        return qd.oracle(sf_dir)
    return qd.oracle


def register(name: str, oracle: Oracle = None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QueryDef(name, fn, oracle, doc)
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 registry entries
# (dict insertion order).  Pure registration order front-loads the
# relational core and leaves the LLM-pipeline / streaming / sketch
# queries invisible to the external gate, so we pin an explicit
# priority window that interleaves every query family: flagship +
# relational representatives, all event-time queries, sketches,
# dedup/ANN/curation north-star, and streaming.  Everything not listed
# follows in registration order and stays covered by the in-repo
# DuckDB-oracle pytest harness (tests/test_oracle_parity.py).
# The tuple is generated by tools/rotation.py — run it to regen;
# `--apply-check` verifies this tuple matches its proposal.  Window =
# the slimmed fixed core (3 names); the rows-only CRASH-GATE slot
# (dedup_minhash_lsh, strictly oldest rows-only row); then the
# stale-vintage tail, oldest external row first, so the vintage gate
# (tests/test_rotation_vintage.py) holds: no query whose newest
# external row is older than MAX_VINTAGE_ROUNDS sits outside it.
# Registration candidates (operators landed + unit-tested, no window
# slot yet): ManagedTextIndex.fuzzy_search / .bm25_after / .collapse,
# rrf_fuse_grouped (batched hybrid).  Restore FIXED_CORE toward ~15
# as slots free up.
_PRIORITY_WINDOW = (
    "flagship_progress",
    "transcript_lookup",
    "stream_tumbling_append",
    "dedup_minhash_lsh",
    "big_qty_orders",
    "clean_rows",
    "customers_with_orders",
    "customers_without_orders",
    "dedup_fuzzy_clusters",
    "derived_program_columns",
    "late_ship_priority_counts",
    "lenient_casts",
    "manifest_change_feed",
    "manifest_compaction_commits",
    "manifest_delete_commits",
    "manifest_incremental_commits",
    "manifest_pruned_read",
    "matview_incremental_refresh",
    "matview_sketch_rollup",
    "monthly_revenue_mom",
    "nation_has_segment",
    "prefix_cohort_join",
    "reference_domain_report",
    "region_nation_rollup",
    "rich_idle_customers",
    "segment_set_ops",
    "small_qty_part_revenue",
    "status_priority_cube",
    "stream_cdc_tombstones",
    "stream_manifest_commits",
    "stream_matview_refresh",
    "stream_near_dup_pairs",
    "token_pack_assignments",
    "token_pack_manifest",
    "ann_lsh_topk",
    "cdc_apply_latest",
    "chunk_dedup_docs",
    "composite_doc_key",
    "cosine_topk",
    "dedup_minhash_portable",
    "dedup_simhash_portable",
    "distinct_users_daily",
    "doc_token_counts",
    "event_type_pivot",
    "ewma_user_values",
    "hll_distinct_users",
    "hll_user_overlap",
    "incremental_event_stats",
    "json_props_agg",
    "manifest_bloom_point_read",
)


def all_queries() -> dict[str, QueryDef]:
    # Import query modules lazily so registration happens on first use.
    from .queries import advanced, core, northstar, streaming_q  # noqa: F401

    missing = [n for n in _PRIORITY_WINDOW if n not in _REGISTRY]
    if missing:
        # A typo / rename here would silently shift which 50 queries the
        # driver's correctness gate sees — fail loudly instead.
        raise LookupError(
            f"_PRIORITY_WINDOW names not in registry: {missing}"
        )
    ordered: dict[str, QueryDef] = {}
    for name in _PRIORITY_WINDOW:
        ordered[name] = _REGISTRY[name]
    for name, qd in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = qd
    return ordered
