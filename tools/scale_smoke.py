"""Nx scale smoke (VERDICT r4 item 8 / r5 item 3): materialize a ~Nx
replica of the heavy fixture tables (events, lineitem, orders, documents)
with key-shifted copies — join relationships preserved, dedup structure
deliberately made Nx denser (worst case for LSH bucket sizes) — then run
the heaviest registered queries once at 1x and once at Nx, recording wall
time and per-phase driver RSS into SCALE.md.

One-time artifact builds (inverted index, graph edge table) are timed
SEPARATELY from the queries that serve from them, so a cold cache never
reads as a query-scale regression: at 100 TB the index is maintained at
ingest, not rebuilt per query.

The point is to catch what the sf0.1 bench can't see: driver-side
collects that grow with data, streaming state explosions, bucket-guard
overflows, quadratic blocks.  A healthy engine shows ~linear wall-time
growth and flat driver memory.

Usage: python tools/scale_smoke.py [sf_dir] [factor]
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

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
FACTOR = int(sys.argv[2]) if len(sys.argv) > 2 else 10

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

# Optional 3rd arg: comma-separated subset — e.g. the 100x events-only
# smoke over the three state-heavy families (VERDICT r5 item 7):
#   python tools/scale_smoke.py /root/testdata/sf0.1 100 \
#       dedup_minhash_lsh,bm25_search_topk,stream_tumbling_append
# In subset mode only the tables those queries scan are replicated, and
# the report section is APPENDED to SCALE.md rather than replacing it.
QUERIES = sys.argv[3].split(",") if len(sys.argv) > 3 else DEFAULT_QUERIES
SUBSET_MODE = len(sys.argv) > 3

# tables each query's scan actually grows with (everything else is
# hard-linked 1x — replicating lineitem for a documents-only smoke
# would only burn disk and build time)
_NEEDS = {
    "ann_ivfpq_topk": {"embeddings"},
    "ann_ivf_topk": {"embeddings"},
    "cosine_topk": {"embeddings"},
    "curation_pipeline": {"documents"},
    "dedup_exact": {"documents"},
    "dedup_minhash_lsh": {"documents"},
    "dedup_fuzzy_clusters": {"documents"},
    "dedup_fuzzy_clusters_fast": {"documents"},
    "token_pack_manifest": {"documents"},
    "token_pack_assignments": {"documents"},
    "bm25_search_topk": {"documents"},
    "stream_tumbling_append": {"events"},
    "stream_tumbling_counts": {"events"},
    "stream_session_append": {"events"},
    "stream_sliding_append": {"events"},
    "stream_stateful_running_totals": {"events"},
    "stream_manifest_commits": {"events"},
    "asof_click_error": {"events"},
    "pricing_summary": {"lineitem"},
    "only_late_supplier_waits": {"lineitem", "orders"},
    "graph_pagerank_topk": {"lineitem", "orders"},
}
SCALED = set().union(
    *(_NEEDS.get(q, {"events", "lineitem", "orders", "documents"})
      for q in QUERIES)
)


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


def build_scaled_dir(
    sf_dir: str, factor: int, tables: set[str] | None = None
) -> str:
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

    if tables is None:
        tables = SCALED
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


def warm_artifacts(spark, sf_dir: str) -> dict[str, float]:
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
    if any("bm25" in q or "text_search" in q or "index" in q for q in QUERIES):
        wanted.append(("managed_text_index", managed_text_index))
    if any(q.startswith("graph_") for q in QUERIES):
        wanted.append(("graph_edges", graph_edges_path))
    if any("ivf" in q or "pq" in q for q in QUERIES):
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


def run(spark, registry, sf_dir: str) -> dict[str, float]:
    times = {}
    for name in QUERIES:
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

    spark = get_spark("scale-smoke", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    scaled_dir = build_scaled_dir(SF_DIR, FACTOR)
    # replicas can be tens of GB (16 GB at 1000x) — remove them on EVERY
    # exit path, including the mid-smoke crashes this tool exists to
    # catch (atexit also fires on unhandled exceptions)
    import atexit

    atexit.register(shutil.rmtree, scaled_dir, ignore_errors=True)
    rss_after_build = rss_snapshot_mb()

    builds_base = warm_artifacts(spark, SF_DIR)
    base = run(spark, registry, SF_DIR)       # warm (JVM+codegen) + 1x numbers
    rss_base = rss_snapshot_mb()
    builds_scaled = warm_artifacts(spark, scaled_dir)
    scaled = run(spark, registry, scaled_dir)
    rss_scaled = rss_snapshot_mb()

    def _fmt_rss(s: dict[str, float]) -> str:
        return f"python {s['python_mb']:.0f} MB + JVM tree {s['jvm_tree_mb']:.0f} MB"

    title = (
        f"## {FACTOR}x subset smoke ({', '.join(QUERIES)})"
        if SUBSET_MODE
        else f"# {FACTOR}x scale smoke"
    )
    cmd = f"python tools/scale_smoke.py {SF_DIR} {FACTOR}" + (
        f" {','.join(QUERIES)}" if SUBSET_MODE else ""
    )
    lines = [
        title,
        "",
        f"Auto-generated by `{cmd}`:",
        f"heavy tables ({', '.join(sorted(SCALED))}) replicated "
        f"{FACTOR}x with key-shifted copies (joins preserved; documents kept "
        "verbatim so dedup clusters densify — the adversarial LSH case), "
        "run on local[32].  1x runs first and doubles as warmup, so the "
        f"{FACTOR}x column is the steady-state cost.  Watch for wall-time "
        f"growth >>{FACTOR}x (a quadratic or skew collapse) or driver-RSS "
        "growth (an unbounded collect / state leak).",
        "",
        "## One-time artifact builds (ingest-time cost, not per-query)",
        "",
        f"| Artifact | 1x build (s) | {FACTOR}x build (s) | ratio |",
        "|---|---|---|---|",
    ]
    for label in builds_base:
        b, s = builds_base[label], builds_scaled[label]
        r = s / b if b else float("nan")
        lines.append(f"| `{label}` | {b} | {s} | {r:.1f}x |")
    lines += [
        "",
        "## Query serve cost (artifacts pre-built)",
        "",
        f"| Query | 1x wall (s) | {FACTOR}x wall (s) | ratio |",
        "|---|---|---|---|",
    ]
    for name in QUERIES:
        r = scaled[name] / base[name] if base[name] else float("nan")
        lines.append(f"| `{name}` | {base[name]} | {scaled[name]} | {r:.1f}x |")
    lines += [
        "",
        "Reading the ratios: any sub-1x row is a warmup/page-cache effect "
        "at these (still small) absolute sizes.  Index/edge-table builds are "
        "reported separately above — at 100 TB those are maintained at "
        "ingest (stream_index_maintenance is the registered incremental "
        "path), so the query rows here are serve-only.  The property this "
        "smoke certifies is the absence of super-linear blowup: every "
        f"ratio must stay <={FACTOR}x.",
        "",
        "Driver RSS (sampled per phase via /proc — current RSS of the "
        "Python driver + its JVM process tree, NOT the process-lifetime "
        "peak, so growth between phases is visible):",
        "",
        f"- after building the {FACTOR}x replica: {_fmt_rss(rss_after_build)}",
        f"- after the 1x pass: {_fmt_rss(rss_base)}",
        f"- after the {FACTOR}x pass: {_fmt_rss(rss_scaled)}",
        "",
        "Driver memory must stay ~flat across the scale-up (all collects "
        "are bounded control data).  The JVM tree number includes executor "
        "threads' heap in local mode; on a real cluster that memory lives "
        "on executors.",
        "",
        "Finding from the first 100x run: a single-file replica silently "
        "collapses input-split parallelism (60 MB file = 1 task at 128 MB "
        "maxPartitionBytes), serializing CPU-heavy text stages — replicas "
        "are therefore written multi-file, the layout a real Nx ingest "
        "produces.  The engine needs no config change: given a realistic "
        "file layout, every stage parallelizes.",
        "",
    ]
    mode = "a" if SUBSET_MODE else "w"
    with open(os.path.join(ROOT, "SCALE.md"), mode) as fh:
        fh.write("\n".join(lines))
    print(
        json.dumps(
            {
                "builds_base": builds_base,
                "builds_scaled": builds_scaled,
                "base": base,
                "scaled": scaled,
                "rss": {
                    "after_build": rss_after_build,
                    "after_1x": rss_base,
                    f"after_{FACTOR}x": rss_scaled,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
