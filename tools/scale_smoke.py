"""Nx scale smoke (VERDICT r4 item 8 / r5 item 3): materialize a ~Nx
replica of the heavy fixture tables (events, lineitem, orders, documents,
embeddings) with key-shifted copies — join relationships preserved,
dedup structure deliberately made Nx denser (worst case for LSH bucket
sizes) — then run registered queries once at 1x and once at Nx,
recording wall time and per-phase driver RSS into SCALE.md.

One-time artifact builds (inverted index, graph edge table) are timed
SEPARATELY from the queries that serve from them, so a cold cache never
reads as a query-scale regression: at 100 TB the index is maintained at
ingest, not rebuilt per query.

The point is to catch what the sf0.1 bench can't see: driver-side
collects that grow with data, streaming state explosions, bucket-guard
overflows, quadratic blocks.  A healthy engine shows ~linear wall-time
growth and flat driver memory.

Usage: python tools/scale_smoke.py [sf_dir] [factor] [q1,q2,...]

With no query list the heaviest BENCH queries run; a comma-separated
list runs those registry names instead (storage, view and index
lifecycles included), replicating only the tables they scan.  Every run
appends one section to SCALE.md, e.g.

    python tools/scale_smoke.py /root/testdata/sf0.1 100 \\
        manifest_dv_delete,matview_incremental_refresh,ann_ivf_index_upsert
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# heaviest BENCH queries + one per scale-sensitive family
DEFAULT_QUERIES = [
    "pricing_summary",            # full lineitem aggregate
    "only_late_supplier_waits",   # Q21: the join-heaviest relational plan
    "dedup_minhash_lsh",          # LSH banding under Nx denser dup clusters
    "stream_tumbling_counts",     # streaming state over Nx events
    "asof_click_error",           # as-of join over Nx events
    "bm25_search_topk",           # search over Nx corpus (index pre-built)
    "graph_pagerank_topk",        # iterative graph over Nx edges
]

# tables each query's scan actually grows with (everything else is
# hard-linked 1x — replicating lineitem for a documents-only smoke
# would only burn disk and build time)
_NEEDS = {
    **dict.fromkeys(
        (
            "stream_tumbling_append", "stream_tumbling_counts",
            "stream_session_append", "stream_sliding_append",
            "stream_stateful_running_totals", "stream_manifest_commits",
            "asof_click_error",
            # storage and view lifecycles, each over an events table
            "manifest_analyze_backfill", "manifest_bloom_point_read",
            "manifest_change_feed", "manifest_check_constraints",
            "manifest_compaction_commits", "manifest_delete_commits",
            "manifest_dv_delete", "manifest_generated_partitions",
            "manifest_history", "manifest_incremental_commits",
            "manifest_merge_into", "manifest_metadata_agg",
            "manifest_partition_evolution", "manifest_pruned_read",
            "manifest_restore", "manifest_schema_evolution",
            "manifest_shallow_clone", "manifest_update_where",
            "manifest_zorder_read", "matview_delta_refresh",
            "matview_incremental_refresh", "matview_sketch_rollup",
        ),
        {"events"},
    ),
    **dict.fromkeys(
        (
            "curation_pipeline", "dedup_exact", "dedup_minhash_lsh",
            "dedup_fuzzy_clusters", "dedup_fuzzy_clusters_fast",
            "token_pack_manifest", "token_pack_assignments",
            "bm25_search_topk",
            # the managed text index lifecycle
            "managed_highlight", "managed_mlt", "managed_phrase_search",
            "managed_proximity_search", "managed_suggest_prefix",
            "managed_text_bm25_stale_stats", "managed_text_facets",
            "managed_text_time_travel",
        ),
        {"documents"},
    ),
    **dict.fromkeys(
        (
            "ann_ivfpq_topk", "ann_ivf_topk", "cosine_topk",
            # the managed IVF / PQ index lifecycles
            "ann_index_knn_join", "ann_ivf_index_erasure",
            "ann_ivf_index_upsert", "ann_ivf_indexed_topk",
            "ann_pq_index_erasure", "ann_pq_index_topk",
        ),
        {"embeddings"},
    ),
    "managed_hybrid_rrf": {"documents", "embeddings"},
    "pricing_summary": {"lineitem"},
    "only_late_supplier_waits": {"lineitem", "orders"},
    "graph_pagerank_topk": {"lineitem", "orders"},
}


def scaled_tables(queries: list[str]) -> set[str]:
    """Tables to replicate for ``queries``: the `_NEEDS` row of each, or
    every table `_REPLACE` knows for a query without one, so no scanned
    table silently stays 1x under an "Nx" column."""
    return set().union(*(_NEEDS.get(q, set(_REPLACE)) for q in queries))


def _proc_rss_mb(pid: int | str = "self") -> float:
    """Current (not process-lifetime-peak) RSS of one process, from
    /proc/<pid>/status VmRSS.  ru_maxrss was useless here: it reports
    the monotonic peak (reached during the replica build) and never the
    JVM child at all (ADVICE r5)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendant_pids(root: int) -> list[int]:
    """All live descendants of `root` (the Spark driver JVM is a child
    of this Python process, sometimes via a shell wrapper)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().split(")")[-1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def rss_snapshot_mb() -> dict[str, float]:
    """Current RSS of this Python driver process and of its process
    subtree (dominated by the Spark JVM), sampled now — so growth
    between phases is actually visible."""
    me = os.getpid()
    tree = sum(_proc_rss_mb(p) for p in _descendant_pids(me))
    return {
        "python_mb": round(_proc_rss_mb(), 1),
        "jvm_tree_mb": round(tree, 1),
    }


# per-table key-shift REPLACE clauses (d.* keeps only the table's own
# columns, so the replica schema is identical to the original)
_REPLACE = {
    "events": (
        "d.event_id * {f} + t.r AS event_id, "
        "d.user_id * {f} + t.r AS user_id, "
        "d.ts + to_seconds(t.r) AS ts"
    ),
    "orders": "d.o_orderkey * {f} + t.r AS o_orderkey",
    "lineitem": "d.l_orderkey * {f} + t.r AS l_orderkey",
    "documents": "d.doc_id * {f} + t.r AS doc_id",
    # vectors duplicated verbatim under shifted ids: every point gains
    # factor-1 exact twins — the densest-cluster worst case for
    # IVF cell balance and PQ residual training
    "embeddings": "d.vec_id * {f} + t.r AS vec_id",
}


def build_scaled_dir(sf_dir: str, factor: int, tables: set[str]) -> str:
    """Replicate the heavy tables `factor`x with shifted keys: orderkeys
    shift identically in orders and lineitem (joins stay valid, fan-out
    preserved), event ids/users shift so the user population scales,
    documents keep their text verbatim (exact-dup clusters grow
    factor×, the adversarial case for dedup).  Timestamps get a +rep
    seconds nudge so event-time windows stay realistically dense.

    Replicated tables are written MULTI-FILE (a `<table>.parquet/`
    directory of part files): a real Nx dataset arrives as many files,
    never as one giant file, and a single-file replica silently
    collapses input-split parallelism for CPU-heavy map stages (at
    128 MB maxPartitionBytes a 60 MB file is ONE task no matter how
    many cores exist) — the first 100x run of this smoke surfaced
    exactly that as a single-threaded index build.  Spark reads the
    directory transparently; unscaled tables stay hard-linked single
    files."""
    import duckdb

    out = tempfile.mkdtemp(prefix=f"sparkgraft_scale{factor}x_")
    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        if not t.endswith(".parquet"):
            continue
        name = t[: -len(".parquet")]
        src, dst = os.path.join(sf_dir, t), os.path.join(out, t)
        if name not in tables:
            try:
                os.link(src, dst)
            except OSError:
                shutil.copyfile(src, dst)
            continue
        repl = _REPLACE[name].format(f=factor)
        os.makedirs(dst)
        # multi-file layout, but capped at 128 part files: one file per
        # replication slice keeps input-split parallelism realistic,
        # while a 1000x factor must not mean 1000 COPY passes — each
        # part covers a RANGE of replica ids instead
        slices = min(factor, 128)
        bounds = [
            (factor * i // slices, factor * (i + 1) // slices)
            for i in range(slices)
        ]
        for i, (lo, hi) in enumerate(bounds):
            con.execute(
                f"COPY (SELECT d.* REPLACE ({repl}) "
                f"FROM read_parquet('{src}') d CROSS JOIN "
                f"(SELECT UNNEST(range({lo}, {hi}))::BIGINT AS r) t) "
                f"TO '{os.path.join(dst, f'part-{i:05d}.parquet')}' "
                f"(FORMAT PARQUET)"
            )
    con.close()
    return out


def warm_artifacts(spark, sf_dir: str, queries: list[str]) -> dict[str, float]:
    """Build the one-time per-fixture artifacts the serve queries read
    (managed text index for bm25, edge table for pagerank), each timed —
    these are ingest-time costs, not per-query costs."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.advanced import (  # noqa: E501
        graph_edges_path,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.northstar import (  # noqa: E501
        managed_text_index,
    )

    wanted = []
    # name words of the queries that serve from the managed text index
    # (a few other text queries match too; none that serves from it is
    # missed, and no ANN query builds it for nothing)
    text_words = (
        "bm25", "text", "phrase", "proximity", "suggest", "mlt", "hybrid",
        "highlight",
    )
    if any(w in q for q in queries for w in text_words):
        wanted.append(("managed_text_index", managed_text_index))
    if any(q.startswith("graph_") for q in queries):
        wanted.append(("graph_edges", graph_edges_path))
    if any("ivf" in q or "pq" in q for q in queries):
        # quantizer training is the offline one-time cost of the
        # IVF/PQ family (FAISS posture) — report it as a build row so
        # the serve rows below stay serve-only
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.advanced import (  # noqa: E501
            _pq_books_cached,
        )
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.northstar import (  # noqa: E501
            ivf_centroids_cached,
        )

        wanted.append(("ivf_centroids_train", ivf_centroids_cached))
        wanted.append(("pq_codebooks_train", _pq_books_cached))
    builds = {}
    for label, fn in wanted:
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        builds[label] = round(time.perf_counter() - t0, 2)
    return builds


def run(spark, registry, sf_dir: str, queries: list[str]) -> dict[str, float]:
    times = {}
    for name in queries:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        times[name] = round(time.perf_counter() - t0, 2)
    return times


def main() -> None:
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.session import (
        get_spark,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    subset = len(sys.argv) > 3
    queries = sys.argv[3].split(",") if subset else DEFAULT_QUERIES
    registry = all_queries()
    unknown = [q for q in queries if q not in registry]
    if unknown:
        sys.exit(f"not registered queries: {', '.join(unknown)}")
    scaled = scaled_tables(queries)

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.sparkContext.master

    scaled_dir = build_scaled_dir(sf_dir, factor, scaled)
    # replicas can be tens of GB (16 GB at 1000x) — remove them on EVERY
    # exit path, including the mid-smoke crashes this tool exists to
    # catch (atexit also fires on unhandled exceptions)
    import atexit

    atexit.register(shutil.rmtree, scaled_dir, ignore_errors=True)
    rss_after_build = rss_snapshot_mb()

    builds_base = warm_artifacts(spark, sf_dir, queries)
    base = run(spark, registry, sf_dir, queries)  # warm (JVM+codegen) + 1x
    rss_base = rss_snapshot_mb()
    builds_scaled = warm_artifacts(spark, scaled_dir, queries)
    times = run(spark, registry, scaled_dir, queries)
    rss_scaled = rss_snapshot_mb()

    def _fmt_rss(s: dict[str, float]) -> str:
        return f"python {s['python_mb']:.0f} MB + JVM tree {s['jvm_tree_mb']:.0f} MB"

    cmd = f"python tools/scale_smoke.py {sf_dir} {factor}" + (
        f" {','.join(queries)}" if subset else ""
    )
    lines = [
        "",
        f"## {factor}x scale smoke ({', '.join(queries)})",
        "",
        f"Auto-generated by `{cmd}`:",
        f"heavy tables ({', '.join(sorted(scaled))}) replicated "
        f"{factor}x with key-shifted copies (joins preserved; documents kept "
        "verbatim so dedup clusters densify — the adversarial LSH case), "
        f"run on {master}.  1x runs first and doubles as warmup, so the "
        f"{factor}x column is the steady-state cost.  Watch for wall-time "
        f"growth >>{factor}x (a quadratic or skew collapse) or driver-RSS "
        "growth (an unbounded collect / state leak).",
        "",
        "### One-time artifact builds (ingest-time cost, not per-query)",
        "",
        f"| Artifact | 1x build (s) | {factor}x build (s) | ratio |",
        "|---|---|---|---|",
    ]
    for label in builds_base:
        b, s = builds_base[label], builds_scaled[label]
        r = s / b if b else float("nan")
        lines.append(f"| `{label}` | {b} | {s} | {r:.1f}x |")
    lines += [
        "",
        "### Query serve cost (artifacts pre-built)",
        "",
        f"| Query | 1x wall (s) | {factor}x wall (s) | ratio |",
        "|---|---|---|---|",
    ]
    for name in queries:
        r = times[name] / base[name] if base[name] else float("nan")
        lines.append(f"| `{name}` | {base[name]} | {times[name]} | {r:.1f}x |")
    lines += [
        "",
        "Reading the ratios: any sub-1x row is a warmup/page-cache effect "
        "at these (still small) absolute sizes.  Index/edge-table builds are "
        "reported separately above — at 100 TB those are maintained at "
        "ingest (stream_index_maintenance is the registered incremental "
        "path), so the query rows here are serve-only.  The property this "
        "smoke certifies is the absence of super-linear blowup: every "
        f"ratio must stay <={factor}x.",
        "",
        "Driver RSS (sampled per phase via /proc — current RSS of the "
        "Python driver + its JVM process tree, NOT the process-lifetime "
        "peak, so growth between phases is visible):",
        "",
        f"- after building the {factor}x replica: {_fmt_rss(rss_after_build)}",
        f"- after the 1x pass: {_fmt_rss(rss_base)}",
        f"- after the {factor}x pass: {_fmt_rss(rss_scaled)}",
        "",
        "Driver memory must stay ~flat across the scale-up (all collects "
        "are bounded control data).  The JVM tree number includes executor "
        "threads' heap in local mode; on a real cluster that memory lives "
        "on executors.",
        "",
    ]
    with open(os.path.join(ROOT, "SCALE.md"), "a") as fh:
        fh.write("\n".join(lines))
    print(
        json.dumps(
            {
                "master": master,
                "scaled_tables": sorted(scaled),
                "builds_base": builds_base,
                "builds_scaled": builds_scaled,
                "base": base,
                "scaled": times,
                "rss": {
                    "after_build": rss_after_build,
                    "after_1x": rss_base,
                    f"after_{factor}x": rss_scaled,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
