"""Recall-drift signals for frozen-quantizer ANN indexes (VERDICT r13
item 5): `cell_stats` skew shows when the quantizer's CELLS go
lopsided; the probe-sample recall below shows when its ANSWERS go bad.
The retrain trigger is probe-sample recall@k below 0.9x the build-time
baseline, or occupancy max/mean above 6x.  SCALE.md records the same
signals measured at 100x; this keeps them honest at fixture size.
"""

from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators import (
    similarity as S,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.ann_index import (
    ManagedIvfIndex,
    ManagedPqIndex,
)

from .conftest import SF_SMALL

N_CELLS = 8


def _emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _recall_probe_sample(index, corpus, query_vecs, k=10, nprobe=4):
    """Recall@k of the index's nprobe probe against exact brute-force
    cosine over the live corpus, averaged over a probe sample.  Works
    for both the raw tier (recall loss = cell pruning only) and the PQ
    tier (ADC: recall loss = pruning + quantization error)."""
    assert query_vecs, "need at least one probe query"
    hits, want = 0, 0
    for qv in query_vecs:
        qv = [float(x) for x in qv]
        exact = {
            r[index.id_col]
            for r in S.cosine_topk(
                corpus, qv, k=k, id_col=index.id_col, vec_col=index.vec_col
            ).collect()
        }
        got = {
            r[index.id_col]
            for r in index.probe(qv, k=k, nprobe=nprobe).collect()
        }
        hits += len(exact & got)
        want += len(exact)
    return hits / want if want else 0.0


def test_recall_probe_sample_exact_at_full_nprobe(spark, tmp_path):
    """Probing EVERY cell of the raw tier is exact brute force, so
    recall@k must be exactly 1.0 — and recall is monotone in nprobe
    (more probed cells can only add exact candidates)."""
    emb = _emb(spark)
    cent = S.train_ivf_centroids_sample(
        emb, "embedding", "vec_id", k=N_CELLS, iters=3
    )
    idx = ManagedIvfIndex(spark, str(tmp_path / "raw"), cent)
    idx.upsert(emb)
    qvs = [list(r["embedding"]) for r in emb.limit(3).collect()]
    full = _recall_probe_sample(idx, emb, qvs, k=5, nprobe=N_CELLS)
    assert full == 1.0
    narrow = _recall_probe_sample(idx, emb, qvs, k=5, nprobe=1)
    assert 0.0 <= narrow <= 1.0


def test_quantization_decay_and_shift_skew_trip_the_trigger(
    spark, tmp_path
):
    """Deterministic fixture-size drift signals (the composed
    baseline-clean → shift-trips regime was measured at 100x, where the
    baseline recall is 100%, and is recorded in SCALE.md; the
    near-uniform fixture vectors are PQ's worst case, so at 500 rows
    the PQ baseline is already floor-level and only the INDIVIDUAL
    signals are meaningful):

    - the raw tier probing every cell is exact → recall 1.0, so
      the probe-sample measurement itself introduces no error;
    - the PQ tier on the SAME corpus and probe sample measures
      strictly lower — quantization decay is visible to the telemetry;
    - an off-manifold +3.0-offset append piles into few cells → the
      occupancy skew signal rises; and the PQ recall under the exact
      tier's 0.9 floor (or skew above 6x) fires the retrain trigger.
    """
    emb = _emb(spark)
    cent = S.train_ivf_centroids_sample(
        emb, "embedding", "vec_id", k=N_CELLS, iters=3
    )
    books = S.train_pq_codebooks_portable(
        emb, "embedding", "vec_id", m=8, k=16, iters=3
    )
    raw = ManagedIvfIndex(spark, str(tmp_path / "raw"), cent)
    pq = ManagedPqIndex(spark, str(tmp_path / "pq"), cent, books)
    raw.upsert(emb)
    pq.upsert(emb)
    base_qvs = [list(r["embedding"]) for r in emb.limit(4).collect()]
    rb_raw = _recall_probe_sample(raw, emb, base_qvs, k=10, nprobe=N_CELLS)
    rb_pq = _recall_probe_sample(pq, emb, base_qvs, k=10, nprobe=N_CELLS)
    assert rb_raw == 1.0
    assert rb_pq < rb_raw

    skew_before = pq.cell_stats()["skew"]
    max_id = emb.agg(F.max("vec_id")).head()[0]
    shifted = emb.filter(F.col("vec_id") % 4 == 3).select(
        (F.col("vec_id") + max_id + 1).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(3.0)).alias(
            "embedding"
        ),
    )
    pq.upsert(shifted)
    skew_after = pq.cell_stats()["skew"]
    assert skew_after > skew_before, (skew_before, skew_after)

    live = emb.unionByName(shifted)
    shift_qvs = [list(r["embedding"]) for r in shifted.limit(4).collect()]
    rs = _recall_probe_sample(pq, live, shift_qvs, k=10, nprobe=N_CELLS)
    assert rs < 0.9 * rb_raw or skew_after > 6.0, (rb_raw, rs, skew_after)
