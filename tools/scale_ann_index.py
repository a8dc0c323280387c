"""Managed IVF ANN index at scale: on a FACTORx embeddings replica,
show that the manifest-backed index lifecycle (VERDICT r11 item 3)
keeps its 100 TB contract:

(a) the bulk build is one cell-partitioned write,
(b) an APPEND confined to a few cells is a pruned commit — the
    manifest proves only the touched cells' fragments moved, and its
    wall time is a small fraction of the bulk build's,
(c) a PROBE resolves only the nprobe cell fragments (manifest-level
    partition pruning — per-query I/O independent of corpus size),
(d) right-to-erasure DELETE removes ids without a rebuild.

Appends a `## FACTORx managed ANN index` section to SCALE.md.

Usage: python tools/scale_ann_index.py [sf_dir] [factor]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_smoke import build_scaled_dir, rss_snapshot_mb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
FACTOR = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
N_CELLS = 64
NPROBE = 4


def main() -> None:
    import atexit
    import tempfile

    from pyspark.sql import functions as F

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (  # noqa: E501
        load_table,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators import (  # noqa: E501
        similarity as S,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.ann_index import (  # noqa: E501
        ManagedIvfIndex,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.session import (  # noqa: E501
        get_spark,
    )

    spark = get_spark("scale-ann-index", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    scaled_dir = build_scaled_dir(SF_DIR, FACTOR, tables={"embeddings"})
    atexit.register(shutil.rmtree, scaled_dir, ignore_errors=True)
    tdir = tempfile.mkdtemp(prefix="sparkgraft_annscale_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)

    emb = load_table(spark, scaled_dir, "embeddings")
    n_vec = emb.count()
    centroids = S.train_ivf_centroids_sample(
        emb, "embedding", "vec_id", k=N_CELLS, iters=5
    )
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]
    ]

    # the append batch: everything the frozen quantizer puts in two
    # chosen cells — a production drip-append lands in SOME cell set;
    # pruned-commit cost must track that set, not the corpus.  Both
    # batches are MATERIALIZED to parquet first: a real ingest batch
    # arrives as data, and timing a lazy filter over the whole corpus
    # would charge the split's full-corpus recompute to the append.
    stamped = S.with_cluster(emb, "embedding", centroids)
    hold_cells = [
        r["__c"]
        for r in stamped.groupBy("__c").count().orderBy("count").limit(2).collect()
    ]
    bulk_path = os.path.join(tdir, "bulk_batch")
    append_path = os.path.join(tdir, "append_batch")
    stamped.filter(~F.col("__c").isin(hold_cells)).drop("__c").write.parquet(
        bulk_path
    )
    stamped.filter(F.col("__c").isin(hold_cells)).drop("__c").write.parquet(
        append_path
    )
    bulk = spark.read.parquet(bulk_path)
    append = spark.read.parquet(append_path)
    n_append = append.count()

    idx = ManagedIvfIndex(
        spark, os.path.join(tdir, "index"), centroids
    )
    timings: dict[str, float] = {}
    rss: dict[str, dict[str, float]] = {}

    def phase(label: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        timings[label] = round(time.perf_counter() - t0, 2)
        rss[label] = rss_snapshot_mb()

    phase("bulk_build_v1", lambda: idx.upsert(bulk))
    v1 = idx.table.versions()[-1]

    phase("append_two_cells_v2", lambda: idx.upsert(append))
    v2 = idx.table.versions()[-1]
    moved = sorted(k for k, v in idx.table.manifest().items() if v == v2)
    want = sorted(f"__c={c}" for c in hold_cells)
    if moved != want:
        raise RuntimeError(f"append rewrote {moved}, expected {want}")
    if not all(
        v == v1 for k, v in idx.table.manifest().items() if k not in want
    ):
        raise RuntimeError("append failed to inherit untouched cells")

    got: dict[str, list] = {}

    def probe(key: str) -> None:
        got[key] = [r.vec_id for r in idx.probe(qv, k=10, nprobe=NPROBE).collect()]

    phase("probe_pre_optimize", lambda: probe("pre"))

    # OPTIMIZE: the merge shuffle leaves ~shuffle-partitions files per
    # cell; compaction bin-packs each cell into one task's output —
    # the standard amortized maintenance a drip-fed index runs
    phase("optimize_bin_pack", lambda: idx.maybe_compact(max_scatter=1))

    phase(f"probe_nprobe{NPROBE}_of_{N_CELLS}", lambda: probe("ids"))
    if got["pre"] != got["ids"]:
        raise RuntimeError("optimize changed probe results")

    # cell-skew telemetry: IVF cells are data-dependent and a hot cell
    # is the realistic 100 TB failure (probes touching it pay its whole
    # row count; OPTIMIZE rewrites it end-to-end).  cell_stats is
    # metadata-only (fragment #rows envelopes + file counts); the bound
    # asserts the sample-trained quantizer keeps occupancy sane on this
    # corpus — a breach means retrain (new index build, FAISS posture).
    cs = idx.cell_stats()
    if len(cs["cells"]) != N_CELLS:
        raise RuntimeError(f"expected {N_CELLS} cells, got {len(cs['cells'])}")
    if cs["rows_total"] != n_vec:
        raise RuntimeError(
            f"metadata row count {cs['rows_total']} != corpus {n_vec}"
        )
    if cs["skew"] is None:
        raise RuntimeError(
            "no cell occupancy recorded (index predates stats_cols "
            "commits?) — cannot check skew"
        )
    if cs["skew"] > 6.0:
        raise RuntimeError(f"hot cell: skew {cs['skew']:.1f}x > 6x bound")
    max_files = max(c["files"] for c in cs["cells"].values())
    _, kept, total = idx.table.read_partitions(
        [(c,) for c in idx.probe_cells(qv, NPROBE)]
    )
    if kept > NPROBE or total < N_CELLS - 2:
        raise RuntimeError(f"probe pruning broke: kept={kept} total={total}")

    # brute-force cosine over the full corpus for the probe-cost contrast
    def brute() -> None:
        got["brute"] = [
            r.vec_id
            for r in S.cosine_topk(emb, qv, k=10).collect()
        ]

    phase("brute_force_full_scan", brute)

    # batch k-NN JOIN through the index: 512 queries in ONE job —
    # per-query probe cells stamped engine-side, index side reads only
    # the union of probed cells, exploded queries broadcast
    # ~512 queries at ANY factor (the modulus scales with the corpus)
    q_mod = max(1, n_vec // 512)
    queries = emb.filter(F.col("vec_id") % q_mod == 1).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    n_queries = queries.count()

    def knn_batch() -> None:
        got["knn_rows"] = idx.knn_join(queries, k=5, nprobe=NPROBE).count()

    phase(f"knn_join_{n_queries}_queries", knn_batch)
    if got["knn_rows"] < 5 * int(n_queries * 0.8):
        raise RuntimeError(f"knn join too few rows: {got['knn_rows']}")

    victims = got["ids"][:3]
    phase(
        "delete_3_ids",
        lambda: idx.delete(
            spark.createDataFrame([(v,) for v in victims], "vec_id bigint")
        ),
    )
    after = [r.vec_id for r in idx.probe(qv, k=10, nprobe=NPROBE).collect()]
    if set(victims) & set(after):
        raise RuntimeError("deleted ids still probe-visible")

    def _fmt_rss(s: dict[str, float]) -> str:
        return (
            f"python {s['python_mb']:.0f} MB + "
            f"JVM tree {s['jvm_tree_mb']:.0f} MB"
        )

    lines = [
        f"## {FACTOR}x managed ANN index",
        "",
        f"{n_vec:,} vectors (dim 64, {FACTOR}x sf replica), {N_CELLS} "
        f"cells, append batch = {n_append:,} rows in 2 cells; "
        "`tools/scale_ann_index.py`, local[32]:",
        "",
    ]
    for label, secs in timings.items():
        lines.append(f"- {label}: {secs} s ({_fmt_rss(rss[label])})")
    ratio = timings["append_two_cells_v2"] / max(timings["bulk_build_v1"], 1e-9)
    lines += [
        "",
        f"The 2-cell append cost {ratio:.1%} of the bulk build "
        "(manifest asserts exactly the two touched fragments moved, "
        "all others inherited by reference) — append cost tracks the "
        "batch's cells, not the corpus.  The (post-OPTIMIZE) probe "
        f"resolved {NPROBE}/{N_CELLS} cell fragments (asserted) vs the "
        "full-corpus brute-force scan "
        f"({timings[f'probe_nprobe{NPROBE}_of_{N_CELLS}']} s vs "
        f"{timings['brute_force_full_scan']} s); per-query I/O is "
        "nprobe/n_cells of the files at any corpus size.  The batch "
        f"k-NN JOIN answered {n_queries} queries ({got['knn_rows']:,} "
        f"result rows) in ONE job "
        f"({timings[f'knn_join_{n_queries}_queries']} s — "
        "per-query probe cells stamped engine-side, index rows never "
        "shuffle).  DELETE removed probed ids without a rebuild "
        "(re-probe asserted; bloom-located, see the re-measure note).  "
        "Cell-skew telemetry (`cell_stats`, metadata-only): "
        f"{cs['rows_total']:,} live rows over {len(cs['cells'])} cells, "
        f"max/mean occupancy **{cs['skew']:.2f}x** (≤ the 6x bound "
        f"asserted here), ≤ {max_files} files/cell post-OPTIMIZE.  A "
        "breach of the bound is the retrain signal — cell assignment "
        "is frozen for the index's lifetime, so rebalancing = train a "
        "new quantizer and bulk-build a new index (the FAISS posture), "
        "never in-place cell splits.",
        "",
    ]
    with open(os.path.join(ROOT, "SCALE.md"), "a") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
