"""North-star LLM-data-pipeline queries: deduplication, similarity
search, text analysis, multimodal plumbing — over the `documents` and
`embeddings` fixtures (BASELINE.json north_star; SURVEY.md M5).

Determinism: Jaccard values are exact int/int double divisions
(bit-identical across engines, emitted unrounded); cosine similarities
are sequential double folds mirrored by DuckDB `list_dot_product` on
DOUBLE[] casts, quantized with the IEEE-pure `dround`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datasets import load_table
from ..functions.scalar import dround
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..registry import register

# ---------------------------------------------------------------------------
# Build-once / query-many artifacts (inverted indexes, trained
# quantizer centroids/codebooks), keyed by (kind, sf_dir): every query
# against the same fixture serves from the artifact built at "ingest",
# which is the production cost model — an index or codebook is an
# offline job's output, not a per-query expense — and what bench then
# measures is steady-state serving cost.  Artifacts are deterministic
# functions of the fixture parquet (portable-hash sample order, seeded
# Lloyd), so caching cannot change any query result; the oracles
# retrain identical literals from the same files regardless.
# ---------------------------------------------------------------------------
_ARTIFACTS: dict[tuple[str, str], object] = {}


def artifact(kind: str, sf_dir: str, build):
    key = (kind, sf_dir)
    if key not in _ARTIFACTS:
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]


# The manifest-MANAGED text index: the inverted index routed through
# ManifestSnapshotTable — pruned MERGE appends, DV-based liveDocs
# erasure, snapshot time travel.  One artifact serves every full-text
# query: two incremental appends (v1 = even docs, v_full = full corpus,
# exact corpus stats), then a deletion-vector erasure of
# doc_id % 5 = 2.  Frozen-corpus queries pin version=v_full; the
# managed_* queries read the live head or compare the two.
_MANAGED_ERASE_PRED = "doc_id % 5 = 2"


def managed_text_index(spark: SparkSession, sf_dir: str):
    """(index, v_full) — v_full is the snapshot BEFORE the erasure."""

    def build():
        import tempfile

        from ..operators.managed_text import ManagedTextIndex

        docs = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="sparkgraft_mtidx_") + "/idx"
        idx = ManagedTextIndex(spark, path)
        idx.upsert(docs.filter(F.col("doc_id") % 2 == 0))
        idx.upsert(docs.filter(F.col("doc_id") % 2 == 1))
        v_full = idx.table.versions()[-1]
        idx.delete(docs.filter(F.expr(_MANAGED_ERASE_PRED)).select("doc_id"))
        return idx, v_full

    return artifact("managed_text_index", sf_dir, build)


# ---------------------------------------------------------------------------
# Dedup — exact
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
    """,
    doc="exact dedup via md5 hash-groupBy, lowest doc_id survives",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


@register(
    "dedup_groups",
    """
    SELECT md5(text) AS text_hash,
           CAST(COUNT(*) AS BIGINT) AS n_dupes,
           list_sort(list(doc_id)) AS member_ids
    FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
    doc="duplicate groups (byte-identical text) with member ids",
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicate_groups(docs, "text", "doc_id")


# ---------------------------------------------------------------------------
# Dedup — exact blocked n-gram Jaccard
# ---------------------------------------------------------------------------
@register(
    "dedup_jaccard_pairs",
    """
    WITH d AS (
        SELECT doc_id, lang,
               list_distinct(string_split(lower(text), ' ')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    """,
    doc="n-gram Jaccard near-dup pairs, language-blocked self-join",
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(
        docs, "doc_id", "text", ["lang"], threshold=0.9, shingle_k=1
    )


# ---------------------------------------------------------------------------
# Dedup — MinHash + LSH and SimHash (Spark-native; rows-only oracle:
# LSH candidate generation is probabilistic recall, not SQL-expressible)
# ---------------------------------------------------------------------------
@register(
    "dedup_minhash_lsh",
    None,
    doc="MinHash(16 perm) + LSH(4 bands) candidates, exact-Jaccard verified ≥0.5 on 3-gram shingles",
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, num_perm=16, bands=4, shingle_k=3
    )


@register(
    "dedup_simhash",
    None,
    doc="64-bit SimHash near-dup pairs, banded Hamming candidates, exact bit_count verify ≤8",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=8)


# ---------------------------------------------------------------------------
# Dedup — MinHash+LSH, oracle-checked twin.  Same pipeline as
# dedup_minhash_lsh but the hash is portable_hash64 (md5-prefix), which
# DuckDB computes bit-identically — so the *entire* LSH candidate
# generation (signatures, band keys, bucket join) is verified against
# SQL, not just row counts.  The xxhash64 variant stays as the fast path.
# ---------------------------------------------------------------------------
def _portable_minhash_ctes(
    doc_source: str,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """The SHARED portable-minhash CTE chain (toks → shingles →
    signatures → band keys → candidates → exact-jaccard-verified
    `pairs(id_a, id_b, jaccard)`), parameterized by the document
    source.  Both _portable_minhash_sql and _fuzzy_cluster_sql compose
    this one fragment so the two oracles can never drift from the
    single shared Spark path (minhash_lsh_pairs with portable=True)."""
    rows = num_perm // bands

    def h64(expr: str) -> str:
        return f"CAST(('0x' || substr(md5({expr}),1,15)) AS BIGINT)"

    sig_exprs = ", ".join(
        "list_min(list_transform(sh, s -> %s))" % h64("s || '#%d'" % i)
        for i in range(num_perm)
    )
    band_exprs = ", ".join(
        "md5('{b}_' || {parts})".format(
            b=b,
            parts=" || '_' || ".join(
                f"CAST(sig[{b * rows + j + 1}] AS VARCHAR)" for j in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM {doc_source}
    ), sh_t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM toks
    ), docs3 AS (
        SELECT * FROM sh_t WHERE len(sh) > 0
    ), sigs AS (
        SELECT doc_id, [{sig_exprs}] AS sig FROM docs3
    ), banded AS (
        SELECT doc_id, unnest([{band_exprs}]) AS band FROM sigs
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT id_a, id_b, jaccard FROM (
            SELECT c.id_a, c.id_b,
                   CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                       / len(list_distinct(list_concat(x.sh, y.sh)))
                       AS jaccard
            FROM cand c
            JOIN docs3 x ON c.id_a = x.doc_id
            JOIN docs3 y ON c.id_b = y.doc_id
        ) WHERE jaccard >= {threshold}
    )"""


def _portable_minhash_sql(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    ctes = _portable_minhash_ctes(
        "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)",
        num_perm,
        bands,
        threshold,
    )
    return f"""
    WITH {ctes}
    SELECT id_a, id_b, jaccard FROM pairs
    """


@register(
    "dedup_minhash_portable",
    _portable_minhash_sql(),
    doc=(
        "MinHash(16)+LSH(4 bands) with engine-portable md5-prefix hashing "
        "— full pipeline (signatures, band keys, candidates, verify) "
        "oracle-checked, not rows-only"
    ),
)
def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_perm=16,
        bands=4,
        shingle_k=3,
        max_bucket_size=None,
        portable=True,
    )


# ---------------------------------------------------------------------------
# Dedup — SimHash, oracle-checked twin (portable 60-bit hashes; bits
# 60-63 of the simhash are structurally 0 on both engines since every
# token hash < 2^60, so the banded candidates and Hamming verify agree).
# ---------------------------------------------------------------------------
def _portable_simhash_sql(max_hamming: int = 8) -> str:
    bit_terms = " + ".join(
        "(CASE WHEN SUM(CASE WHEN (h>>%d)&1=1 THEN 1 ELSE -1 END)>0"
        " THEN %d::BIGINT ELSE 0::BIGINT END)" % (i, 2**i)
        for i in range(60)
    )
    band_exprs = ", ".join(
        "'%d:' || CAST((sim>>%d)&65535 AS VARCHAR)" % (i, 16 * i)
        for i in range(4)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS t
        FROM documents WHERE text IS NOT NULL
    ), hh AS (
        SELECT doc_id, CAST(('0x' || substr(md5(t),1,15)) AS BIGINT) AS h FROM tok
    ), sims AS (
        SELECT doc_id, CAST({bit_terms} AS BIGINT) AS sim FROM hh GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, sim, unnest([{band_exprs}]) AS band FROM sims
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.sim AS sim_a, b.sim AS sim_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


@register(
    "dedup_simhash_portable",
    _portable_simhash_sql(),
    doc=(
        "SimHash near-dup pairs with engine-portable md5-prefix token "
        "hashes — signature bits, 16-bit bands, and Hamming verify all "
        "oracle-checked"
    ),
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=8, portable=True)


# ---------------------------------------------------------------------------
# Deterministic hash sampling / splitting (operators/sampling.py) —
# map-side-only, reproducible on any engine; the DuckDB oracle runs the
# identical bucket arithmetic.
# ---------------------------------------------------------------------------
_BUCKET_SQL = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10000)"
)


@register(
    "sample_hash_10pct",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_BUCKET_SQL} < 1000
    """,
    doc="deterministic 10% sample by key-hash bucket — reproducible, shuffle-free",
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return SA.hash_sample(docs, "doc_id", 0.10).select("doc_id", "lang", "source")


@register(
    "split_train_val_test",
    f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="leakage-free 80/10/10 train/val/test split by key hash (same key ⇒ same split on any engine)",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return SA.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


@register(
    "sample_stratified_by_lang",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_BUCKET_SQL} <
          (CASE WHEN lang = 'en' THEN 500 WHEN lang = 'de' THEN 5000 ELSE 10000 END)
    """,
    doc="stratified sampling: 5% of dominant 'en', 50% of 'de', 100% of rare strata",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return SA.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.05, "de": 0.5}, default_fraction=1.0
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Corpus statistics (operators/corpus.py): TF-IDF, vocabulary head,
# train/test contamination.
# ---------------------------------------------------------------------------
_UNNEST_TOKS = (
    "SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t "
    "FROM documents WHERE text IS NOT NULL"
)


@register(
    "tfidf_top_terms",
    f"""
    WITH tf AS (
        SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM ({_UNNEST_TOKS}) WHERE t <> '' GROUP BY doc_id, t
    ), dfq AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank FROM (
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
               CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / dfq.df AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id ORDER BY
                   CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / dfq.df DESC,
                   tf.term ASC
               ) AS rank
        FROM tf JOIN dfq USING (term)
    ) WHERE rank <= 3
    """,
    doc="top-3 characteristic terms per doc by rational TF-IDF (tf·N/df — log-free, bit-identical ranking)",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import corpus as C

    docs = load_table(spark, sf_dir, "documents")
    return C.tfidf_top_terms(docs, "doc_id", "text", k=3)


@register(
    "vocab_top_terms",
    f"""
    SELECT term, n, CAST(rank AS INT) AS rank FROM (
        SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t ASC) AS rank
        FROM ({_UNNEST_TOKS}) WHERE t <> '' GROUP BY t
    ) WHERE rank <= 100
    """,
    doc="global vocabulary head: top-100 terms by corpus frequency",
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import corpus as C

    docs = load_table(spark, sf_dir, "documents")
    return C.top_terms(docs, "text", k=100)


@register(
    "split_contamination",
    f"""
    WITH sp AS (
        SELECT doc_id, text,
               CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                    WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents WHERE text IS NOT NULL
    ), toks AS (
        SELECT doc_id, split, string_split_regex(lower(text), '\\s+') AS t FROM sp
    ), shs AS (
        SELECT doc_id, split,
               CAST(('0x' || substr(md5(sh_s),1,15)) AS BIGINT) AS sh
        FROM (
            SELECT doc_id, split,
                   unnest(list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh_s
            FROM toks
        )
    ), tr AS (
        SELECT DISTINCT sh FROM shs WHERE split = 'train'
    )
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM (SELECT doc_id, sh FROM shs WHERE split = 'test') s
    JOIN tr USING (sh) GROUP BY s.doc_id
    """,
    doc="benchmark-contamination scan: test-split docs sharing ≥1 3-gram shingle with any train doc",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import corpus as C
    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    split = SA.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return C.cross_split_contamination(
        split, "doc_id", "text", "split", shingle_k=3
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        # fail loudly: the oracles embed `WHERE vec_id = {vec_id}`, so a
        # silent fallback here would diverge the two engines
        raise LookupError(f"embeddings fixture has no vec_id={vec_id}")
    return [float(x) for x in row[0]]


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "cosine_topk",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
        SELECT e.vec_id,
               {_COS_SQL.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qv")} AS cos
        FROM embeddings e, q
    )
    SELECT vec_id, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
    doc="brute-force cosine top-k vs literal query vector (native zip_with/aggregate fold)",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    out = S.cosine_topk(emb, qv, k=10)
    return out.select("vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim"))


@register(
    "knn_join_sample",
    f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         scored AS (
        SELECT q.q_id, c.vec_id,
               {_COS_SQL.format(a="q.qv", b="c.cv")} AS cos,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY {_COS_SQL.format(a="q.qv", b="c.cv")} DESC,
                                           c.vec_id) AS rank
        FROM q, c
    )
    SELECT q_id, vec_id, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
           CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 3
    """,
    doc="exact k-NN join: broadcast query batch × corpus scan + per-query top-k window",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = S.knn_join(queries, emb, k=3)
    return out.select(
        "q_id",
        "vec_id",
        dround(F.col("cos_sim"), 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


def _emb_dim(sf_dir: str) -> int:
    """Embedding dimensionality sniffed from the fixture parquet — the
    Spark queries derive it from data (ann_knn_join reads len() of the
    first vector), so dim-dependent oracle literals (hyperplanes) must
    come from the same source or a fixture regeneration with a new dim
    would silently diverge the two engines (the r2 encoding-drift
    lesson, applied to shape)."""
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        "SELECT len(embedding) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') LIMIT 1"
    ).fetchone()[0]
    con.close()
    return int(n)


def _ann_lsh_topk_sql(dim: int, n_planes: int = 8, k: int = 10) -> str:
    """Portable twin of the hyperplane-LSH probe: the seeded planes are
    literals in both engines and the query signature is computed by the
    same sequential dot-product fold as the corpus signatures — no
    driver-side numpy in the loop, so the bucket set is bit-identical."""
    planes = S.hyperplanes(dim, n_planes)

    def sig_expr(v: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product({v}, {p!r}) > 0 "
            f"THEN {2**i}::BIGINT ELSE 0::BIGINT END)"
            for i, p in enumerate(planes)
        )
        return f"({terms})"

    probe_list = ", ".join(
        ["sig"] + [f"xor(sig, {2**i}::BIGINT)" for i in range(n_planes)]
    )
    return f"""
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ), cs AS (
        SELECT vec_id, cv, {sig_expr("cv")} AS bkt FROM c
    ), q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = 0
    ), qs AS (
        SELECT qv, {sig_expr("qv")} AS sig FROM q
    ), probed AS (
        SELECT qv, unnest([{probe_list}]) AS bkt FROM qs
    )
    SELECT cs.vec_id,
           FLOOR(list_dot_product(p.qv, cs.cv)
                 / (sqrt(list_dot_product(p.qv, p.qv))
                    * sqrt(list_dot_product(cs.cv, cs.cv)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM cs JOIN probed p ON cs.bkt = p.bkt
    ORDER BY list_dot_product(p.qv, cs.cv)
             / (sqrt(list_dot_product(p.qv, p.qv))
                * sqrt(list_dot_product(cs.cv, cs.cv))) DESC, cs.vec_id
    LIMIT {k}
    """


@register(
    "ann_lsh_topk",
    lambda sf_dir: _ann_lsh_topk_sql(dim=_emb_dim(sf_dir)),
    doc="approximate top-k via random-hyperplane LSH bucket probe — "
    "signatures, multi-probe neighborhood, bucket filter, and scoring "
    "all oracle-checked via literal hyperplanes (recall vs brute force "
    "additionally asserted in tests)",
)
def q_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # single-row query frame through the bucketed k-NN join: the query
    # signature comes from the same in-plan fold as the corpus side
    # (a driver-side numpy signature could flip a borderline bit)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("q_id"), "embedding"
    )
    out = S.ann_knn_join(queries, emb, k=10, n_planes=8, probe_flips=1)
    return out.select("vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim"))


@register(
    "embedding_block_pairs",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           FLOOR({_COS_SQL.format(a="a.v", b="b.v")} * 1000000.0 + 0.5) / 1000000.0
               AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a="a.v", b="b.v")} >= 0.3
    """,
    doc="embedding-cosine near-dup pairs within IVF-style blocks (label partitions)",
)
def q_emb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = emb.select(
        F.col("label"), F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", S.cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.3)
        .select("id_a", "id_b", dround(F.col("cos"), 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids — the class-prototype summary behind IVF
# coarse quantizers and nearest-centroid classification.  Emitted long
# (label, dim, centroid): cross-row double sums are made reproducible by
# folding each (label, dim) group's values in vec_id order (identical
# left fold on both engines).  The fold is computed over a BOUNDED
# deterministic sample (portable md5-hash order on vec_id, the
# train_ivf_centroids_portable recipe): per-group state is ≤ sample_size
# regardless of corpus size, so no collect_list grows with the corpus —
# the 100 TB posture for an exact-reproducible prototype.  (An
# order-free full-corpus avg is the single-pass variant when
# bit-reproducibility isn't required.)
# ---------------------------------------------------------------------------
_CENT_SAMPLE = 256
_CENT_SAMPLE_SQL = f"""
        SELECT * FROM embeddings
        ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT
        LIMIT {_CENT_SAMPLE}
"""


def _sampled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bounded sample in portable-hash order — the Spark
    twin of _CENT_SAMPLE_SQL (TakeOrdered on the seeded hash: one scan,
    no full shuffle, ≤ sample_size rows thereafter)."""
    from ..operators.dedup import portable_hash64

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.orderBy(
        portable_hash64(F.col("vec_id").cast("string"))
    ).limit(_CENT_SAMPLE)


@register(
    "embedding_label_centroids",
    f"""
    WITH s AS ({_CENT_SAMPLE_SQL}),
    x AS (
        SELECT label, vec_id, u['dim'] AS dim, u['v'] AS v FROM (
            SELECT label, vec_id,
                   unnest(list_transform(range(1, len(embedding) + 1),
                       i -> {{'dim': i - 1, 'v': CAST(embedding[i] AS DOUBLE)}})) AS u
            FROM s
        )
    ), g AS (
        SELECT label, dim,
               list_reduce(list(v ORDER BY vec_id), (acc, e) -> acc + e) AS s,
               COUNT(*) AS n
        FROM x GROUP BY label, dim
    )
    SELECT label, CAST(dim AS INT) AS dim,
           FLOOR(s / n * 1000000.0 + 0.5) / 1000000.0 AS centroid
    FROM g
    """,
    doc="per-label embedding centroids (long form) over a bounded "
    "deterministic hash-ordered sample, vec_id-ordered fold for "
    "cross-engine exactness — per-group state ≤ sample_size at any "
    "corpus scale",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _sampled_embeddings(spark, sf_dir).select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    g = (
        emb.groupBy("label", "dim")
        .agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("xs"),
        )
        .select(
            "label",
            F.col("dim").cast("int").alias("dim"),
            F.aggregate(
                F.col("xs"), F.lit(0.0), lambda acc, e: acc + e["v"]
            ).alias("s"),
            F.size("xs").alias("n"),
        )
    )
    return g.select(
        "label", "dim", dround(F.col("s") / F.col("n"), 6).alias("centroid")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
def _sw_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return (
        "len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
        f"[{words}]))"
    )


@register(
    "lang_id_counts",
    f"""
    WITH scored AS (
        SELECT doc_id, lang AS true_lang,
               {_sw_sql('de')} AS c_de, {_sw_sql('en')} AS c_en,
               {_sw_sql('es')} AS c_es, {_sw_sql('fr')} AS c_fr
        FROM documents
    ),
    labeled AS (
        SELECT true_lang,
               CASE WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'unk'
                    WHEN c_de = greatest(c_de, c_en, c_es, c_fr) THEN 'de'
                    WHEN c_en = greatest(c_de, c_en, c_es, c_fr) THEN 'en'
                    WHEN c_es = greatest(c_de, c_en, c_es, c_fr) THEN 'es'
                    ELSE 'fr' END AS detected
        FROM scored
    )
    SELECT true_lang, detected, CAST(COUNT(*) AS BIGINT) AS n
    FROM labeled GROUP BY 1, 2
    """,
    doc="language-ID heuristic (stopword-overlap argmax) × true label confusion counts",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            T.lang_id(F.col("text")).alias("detected"),
        )
        .groupBy("true_lang", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_QUALITY_SQL = """
    (LEAST(length(text) / 500.0, 1.0) * 0.25
     + CASE WHEN length(text) > 0
            THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text)
            ELSE 0.0 END * 0.25
     + LEAST({sw} / 5.0, 1.0) * 0.25
     + CASE WHEN len(string_split(lower(text), ' ')) > 0
             AND CAST(length(text) AS DOUBLE) / len(string_split(lower(text), ' '))
                 BETWEEN 3.0 AND 10.0
            THEN 1.0 ELSE 0.5 END * 0.25)
"""


@register(
    "text_quality_scores",
    f"""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]')) AS INT)
               AS n_bpe_tokens,
           FLOOR({_QUALITY_SQL.format(sw=_sw_sql('en'))} * 10000.0 + 0.5) / 10000.0
               AS quality
    FROM documents
    """,
    doc="token counting (whitespace + BPE-ish regex) and composite quality score",
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).cast("int").alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
        dround(T.quality_score(F.col("text")), 4).alias("quality"),
    )


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
               AS fingerprint
    FROM documents
    """,
    doc="order-insensitive content fingerprint: md5 over sorted distinct token set",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.doc_fingerprint(F.col("text")).alias("fingerprint")
    )


_SEARCH_TERMS = ["spark", "merge", "window"]

# brute-force scan semantics — shared by the scan query AND the
# inverted-index query (index-backed search must return the identical
# ranked result, so both are checked against the same oracle text)
_TEXT_SEARCH_SQL = f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_intersect(
                   list_distinct(string_split_regex(lower(text), '\\s+')),
                   {_SEARCH_TERMS!r})) AS INT) AS n_terms_matched,
               CAST(len(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> list_contains({_SEARCH_TERMS!r}, t))) AS INT)
                   AS total_tf
        FROM documents
    )
    SELECT doc_id, n_terms_matched, total_tf
    FROM scored WHERE n_terms_matched > 0
    ORDER BY n_terms_matched DESC, total_tf DESC, doc_id
    LIMIT 10
    """


@register(
    "text_search_topk",
    _TEXT_SEARCH_SQL,
    doc="tokenized full-text match (analyzed-search semantics, the S7 "
    "Elasticsearch `match` analog): any-term containment, ranked by "
    "(distinct terms matched, total term frequency), top-k",
)
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.text_search(docs, _SEARCH_TERMS, k=10)


# documents tombstoned out of the search index (right-to-erasure)
_TEXT_ERASE_PRED = "doc_id % 3 = 1"


def erased_text_index(spark: SparkSession, sf_dir: str):
    """A dedicated managed index with a third of the corpus ERASED by
    one deletion-vector commit (`ManagedTextIndex.delete` — the Lucene
    liveDocs shape: postings untouched, every read anti-joins the DV
    sidecars out until `compact` purges them physically).  Separate
    from the shared `managed_text_index` artifact, whose erasure
    predicate differs."""

    def build():
        import tempfile

        from ..operators.managed_text import ManagedTextIndex

        docs = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="sparkgraft_mtidx_erased_") + "/idx"
        idx = ManagedTextIndex(spark, path)
        idx.upsert(docs)
        idx.delete(docs.filter(F.expr(_TEXT_ERASE_PRED)).select("doc_id"))
        return idx

    return artifact("managed_text_index_erased", sf_dir, build)


@register(
    "text_search_after_erasure",
    _TEXT_SEARCH_SQL.replace(
        "FROM documents", f"FROM documents WHERE NOT ({_TEXT_ERASE_PRED})"
    ),
    doc="right-to-erasure on the managed text index, the Lucene "
    "liveDocs way: one deletion-vector commit marks the erased docs' "
    "postings (postings untouched — a doc's postings scatter across "
    "every term bucket, so an eager rewrite would touch the whole "
    "index), the bucket-pruned search at the head anti-joins the DV "
    "sidecars out, and compact later purges them physically "
    "(compaction ≡ fresh build, pinned in tests); oracle = "
    "brute-force match over the corpus minus the erased docs",
)
def q_text_search_after_erasure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return erased_text_index(spark, sf_dir).search(_SEARCH_TERMS, k=10)


@register(
    "indexed_text_search",
    _TEXT_SEARCH_SQL,
    doc="the SAME full-text match served from the managed inverted "
    "index at its full-corpus snapshot (version=v_full): query terms' "
    "term-hash buckets computed driver-side with the portable hash, "
    "the manifest read lists only those bucket fragments — "
    "build-once/query-many, per-query cost O(matching postings) "
    "independent of corpus size; oracle-checked against the "
    "brute-force scan semantics",
)
def q_indexed_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    return idx.search(_SEARCH_TERMS, k=10, version=v_full)


_NE_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


@register(
    "bm25_search_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents
    ),
    meta AS (
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE list_contains({_SEARCH_TERMS!r}, term)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    )
    SELECT doc_id, SUM(s_fp) / 10000.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY SUM(s_fp) DESC, doc_id
    LIMIT 10
    """,
    doc="BM25 relevance top-k (k1=1.2, b=0.75) served FROM the managed "
    "inverted index at its full-corpus snapshot: bucket-pruned "
    "postings carry tf and dl (Lucene norms-in-postings), df comes "
    "from the pruned postings themselves, N/avgdl from the version's "
    "two-long corpus stats — scoring never rescans the corpus.  "
    "Per-(doc,term) scores quantized to 1e-4 fixed-point BIGINT "
    "before the order-free per-doc sum; fully oracle-checked against "
    "a from-scratch DuckDB BM25.",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    return idx.bm25(_SEARCH_TERMS, k=10, version=v_full)


# Batched multi-query BM25 (the ES `_msearch` shape).  Query 1 is the
# single-query fixture verbatim, so the msearch ≡ single-path identity
# is externally visible, not just unit-tested.
_MSEARCH_QUERIES: dict[int, list[str]] = {
    1: ["spark", "merge", "window"],
    2: ["join", "hash"],
    3: ["stream", "batch", "filter"],
    4: ["vector", "scan"],
}


def _msearch_values() -> str:
    return ", ".join(
        f"({qid}, '{t}')"
        for qid in sorted(_MSEARCH_QUERIES)
        for t in _MSEARCH_QUERIES[qid]
    )


@register(
    "bm25_msearch_topk",
    f"""
    WITH q AS (
        SELECT CAST(q_id AS BIGINT) AS q_id, term
        FROM (VALUES {_msearch_values()}) AS v(q_id, term)
    ),
    toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents
    ),
    meta AS (
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE term IN (SELECT DISTINCT term FROM q)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.term, p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    ),
    per_q AS (
        SELECT q.q_id, scored.doc_id, SUM(s_fp) AS s
        FROM scored JOIN q USING (term)
        GROUP BY q.q_id, scored.doc_id
    ),
    ranked AS (
        SELECT q_id, doc_id, CAST(s AS DOUBLE) / 10000.0 AS bm25,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY s DESC, doc_id
               ) AS INT) AS rank
        FROM per_q
    )
    SELECT q_id, doc_id, bm25, rank FROM ranked WHERE rank <= 10
    """,
    doc="batched multi-query BM25 (`_msearch`) on the managed index's "
    "full-corpus snapshot: the bucket UNION of all queries' terms is "
    "read once, the per-(doc,term) fixed-point score is computed once "
    "per posting (query-independent), and a broadcast (q_id, term) "
    "join fans postings out to their queries — per-query results "
    "bit-identical to running bm25 per query, at one job instead of "
    "N; oracle = from-scratch DuckDB BM25 per query",
)
def q_bm25_msearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    return idx.msearch(_MSEARCH_QUERIES, k=10, version=v_full)


@register(
    "suggest_terms_prefix",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> t <> ''))) AS term
        FROM documents
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM toks WHERE term LIKE 's%'
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 10
    """,
    doc="completion suggester (the ES suggest shape): prefix 's' "
    "completions ranked by document frequency from the first-char-"
    "partitioned term dictionary that materialize_dictionary freezes "
    "from the managed index's full-corpus snapshot — the scan lists "
    "ONE partition dir (a hash bucket can never serve a prefix query, "
    "hence the dedicated structure, ES's FST analogue); per-query "
    "cost independent of corpus size",
)
def q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textindex import suggest_terms

    def freeze() -> str:
        import tempfile

        idx, v_full = managed_text_index(spark, sf_dir)
        path = tempfile.mkdtemp(prefix="sparkgraft_tdict_") + "/dict"
        idx.materialize_dictionary(path, version=v_full)
        return path

    path = artifact("term_dictionary", sf_dir, freeze)
    return suggest_terms(spark, path, "s", k=10)


@register(
    "text_search_facets",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_intersect(
                   list_distinct(string_split_regex(lower(text), '\\s+')),
                   {_SEARCH_TERMS!r})) AS INT) AS n_terms_matched,
               CAST(len(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> list_contains({_SEARCH_TERMS!r}, t))) AS INT)
                   AS total_tf
        FROM documents
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.total_tf) AS BIGINT) AS total_tf
    FROM scored s JOIN documents d USING (doc_id)
    WHERE s.n_terms_matched > 0
    GROUP BY d.lang
    """,
    doc="search facets (the ES terms-aggregation-on-query / Kibana "
    "dashboard shape): per-language matching-doc counts and total term "
    "frequency over ALL docs matching >=1 query term — the managed "
    "index's match aggregate at its full-corpus snapshot (bounded by "
    "the query terms' document frequencies) joined to the docs "
    "dimension for the facet key",
)
def q_text_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    matched = idx.match_docs(_SEARCH_TERMS, version=v_full)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        matched.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("total_tf").cast("long").alias("total_tf"),
        )
    )


# Elasticsearch MLT parity: the source doc's terms ranked by
# fixed-point tf·idf, top-5 become the query, source excluded from
# the hits (df still counts it — the ES behavior).
_MLT_DOC_ID = 7


@register(
    "mlt_similar_docs",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents
    ),
    meta AS (
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    src AS (
        SELECT term, CAST(COUNT(*) AS INT) AS tf
        FROM toks WHERE doc_id = {_MLT_DOC_ID} GROUP BY term
    ),
    p0 AS (
        SELECT term, doc_id FROM toks
        WHERE term IN (SELECT term FROM src) GROUP BY term, doc_id
    ),
    alldf AS (SELECT term, COUNT(*) AS df FROM p0 GROUP BY term),
    ranked AS (
        SELECT s.term,
               CAST(FLOOR(CAST(s.tf AS DOUBLE)
                   * ln((CAST(meta.n AS DOUBLE) - CAST(alldf.df AS DOUBLE)
                         + 0.5) / (CAST(alldf.df AS DOUBLE) + 0.5) + 1.0)
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM src s JOIN alldf USING (term) CROSS JOIN meta
    ),
    top_terms AS (SELECT term FROM ranked ORDER BY s_fp DESC, term LIMIT 5),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE term IN (SELECT term FROM top_terms)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    )
    SELECT doc_id, SUM(s_fp) / 10000.0 AS bm25
    FROM scored WHERE doc_id <> {_MLT_DOC_ID}
    GROUP BY doc_id
    ORDER BY SUM(s_fp) DESC, doc_id
    LIMIT 10
    """,
    doc="Elasticsearch `more_like_this`, served from the managed "
    "index's full-corpus snapshot: the source document's own terms "
    "ranked by fixed-point tf*idf (df from the pruned postings — the "
    "MLT 'interesting terms' pass), top-5 become "
    "the BM25 query, source doc excluded from the hits while its df "
    "contribution stays (ES behavior); driver materialization bounded "
    "by one document's vocabulary; oracle replays both stages "
    "from scratch in DuckDB",
)
def q_mlt_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return idx.more_like_this(docs, _MLT_DOC_ID, m=5, k=10, version=v_full)


@register(
    "managed_text_bm25_stale_stats",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents WHERE NOT ({_MANAGED_ERASE_PRED})
    ),
    meta AS (
        -- Lucene stale-stats semantics: N/avgdl stay PRE-delete until
        -- a compaction merge, so the oracle's corpus constants come
        -- from the FULL corpus while postings exclude the erased docs
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE list_contains({_SEARCH_TERMS!r}, term)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    )
    SELECT doc_id, SUM(s_fp) / 10000.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY SUM(s_fp) DESC, doc_id
    LIMIT 10
    """,
    doc="BM25 from the manifest-MANAGED inverted index after a "
    "deletion-vector erasure: postings anti-join the DV sidecars out "
    "(liveDocs) while N/avgdl stay pre-delete until compaction — the "
    "oracle replicates exactly that stale-stats regime (full-corpus "
    "constants, erased-docs-excluded postings), so the Lucene "
    "deletes-don't-touch-stats-until-merge contract is hash-checked "
    "externally, not just unit-tested",
)
def q_managed_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_text_index(spark, sf_dir)
    return idx.bm25(_SEARCH_TERMS, k=10)


@register(
    "managed_text_time_travel",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_intersect(
                   list_distinct(string_split_regex(lower(text), '\\s+')),
                   {_SEARCH_TERMS!r})) AS INT) AS n_terms_matched,
               CAST(len(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> list_contains({_SEARCH_TERMS!r}, t))) AS INT)
                   AS total_tf
        FROM documents
    ),
    full_snap AS (
        SELECT 'full' AS snap, doc_id, n_terms_matched, total_tf
        FROM scored WHERE n_terms_matched > 0
        ORDER BY n_terms_matched DESC, total_tf DESC, doc_id
        LIMIT 10
    ),
    live_snap AS (
        SELECT 'live' AS snap, doc_id, n_terms_matched, total_tf
        FROM scored WHERE n_terms_matched > 0
          AND NOT ({_MANAGED_ERASE_PRED})
        ORDER BY n_terms_matched DESC, total_tf DESC, doc_id
        LIMIT 10
    )
    SELECT * FROM full_snap UNION ALL SELECT * FROM live_snap
    """,
    doc="snapshot time travel on the managed text index: the SAME "
    "match query served at the pre-erasure version (version= pins the "
    "snapshot — erased docs still rank) and at the live head (DV "
    "anti-join excludes them); oracle = brute-force match over the "
    "full corpus UNION ALL over the corpus minus the erased docs",
)
def q_managed_text_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    full = idx.search(_SEARCH_TERMS, k=10, version=v_full).select(
        F.lit("full").alias("snap"), "doc_id", "n_terms_matched", "total_tf"
    )
    live = idx.search(_SEARCH_TERMS, k=10).select(
        F.lit("live").alias("snap"), "doc_id", "n_terms_matched", "total_tf"
    )
    return full.unionByName(live)


_MANAGED_PHRASE = ["part", "filter"]


@register(
    "managed_phrase_search",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           w -> w <> '') AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(list_filter(generate_series(1, len(t) - 1),
                    i -> t[i] = '{_MANAGED_PHRASE[0]}'
                         AND t[i+1] = '{_MANAGED_PHRASE[1]}')) AS INT)
                   AS n_matches
        FROM toks
    ),
    full_snap AS (
        SELECT 'full' AS snap, doc_id, n_matches FROM m
        WHERE n_matches > 0
        ORDER BY n_matches DESC, doc_id LIMIT 10
    ),
    live_snap AS (
        SELECT 'live' AS snap, doc_id, n_matches FROM m
        WHERE n_matches > 0 AND NOT ({_MANAGED_ERASE_PRED})
        ORDER BY n_matches DESC, doc_id LIMIT 10
    )
    SELECT * FROM full_snap UNION ALL SELECT * FROM live_snap
    """,
    doc="ES match_phrase on the manifest-MANAGED text index: the "
    "managed postings carry the "
    "Lucene position-list shape, and the SAME phrase query is served "
    "at the pre-erasure snapshot (erased docs still phrase-match "
    "under version=) and at the live head (DV anti-join removes "
    "them) — adjacency via shifted position-list intersections, "
    "bucket-pruned to the phrase terms; oracle = brute-force "
    "adjacency over the corpus, full UNION ALL erased-excluded",
)
def q_managed_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    full = idx.phrase_search(_MANAGED_PHRASE, k=10, version=v_full).select(
        F.lit("full").alias("snap"), "doc_id", "n_matches"
    )
    live = idx.phrase_search(_MANAGED_PHRASE, k=10).select(
        F.lit("live").alias("snap"), "doc_id", "n_matches"
    )
    return full.unionByName(live)


@register(
    "managed_proximity_search",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           w -> w <> '') AS t
        FROM documents WHERE NOT ({_MANAGED_ERASE_PRED})
    ),
    m AS (
        SELECT doc_id,
               CAST(len(list_filter(generate_series(1, len(t)),
                    i -> t[i] = '{_MANAGED_PHRASE[0]}'
                         AND len(list_filter(generate_series(1, len(t)),
                             j -> t[j] = '{_MANAGED_PHRASE[1]}'
                                  AND abs(j - i) <= 3 AND j <> i)) > 0))
                    AS INT) AS n_matches
        FROM toks
    )
    SELECT doc_id, n_matches FROM m WHERE n_matches > 0
    ORDER BY n_matches DESC, doc_id
    LIMIT 10
    """,
    doc="Lucene slop (unordered proximity ≤ 3) on the managed text "
    "index's positional postings at the live head — the erased docs' "
    "positions are DV-filtered out before the kernel, so a "
    "right-to-erasure commit immediately stops the doc from "
    "proximity-matching; same snapshot/pruning contract as "
    "managed_phrase_search",
)
def q_managed_proximity_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    idx, _v_full = managed_text_index(spark, sf_dir)
    return idx.proximity_search(
        _MANAGED_PHRASE[0], _MANAGED_PHRASE[1], slop=3, k=10
    )


@register(
    "managed_suggest_prefix",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> t <> ''))) AS term
        FROM documents WHERE NOT ({_MANAGED_ERASE_PRED})
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM toks WHERE term LIKE 's%'
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 10
    """,
    doc="snapshot-consistent completion suggester (a dictionary frozen "
    "by materialize_dictionary serves stale terms after later "
    "appends): df per term is ONE aggregate over the "
    "live (term, doc) postings at the read's snapshot — erased docs "
    "stop counting toward df the moment the DV commit lands, and "
    "suggest(version=) can never disagree with search(version=) at "
    "the same pin (ES keeps the completion FST inside the live index "
    "for exactly this reason); materialize_dictionary freezes the "
    "first-char-partitioned serving artifact FROM a pinned snapshot "
    "with its version recorded for the rebuild cadence",
)
def q_managed_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_text_index(spark, sf_dir)
    return idx.suggest("s", k=10)


@register(
    "managed_text_facets",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_intersect(
                   list_distinct(string_split_regex(lower(text), '\\s+')),
                   {_SEARCH_TERMS!r})) AS INT) AS n_terms_matched,
               CAST(len(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   t -> list_contains({_SEARCH_TERMS!r}, t))) AS INT)
                   AS total_tf
        FROM documents WHERE NOT ({_MANAGED_ERASE_PRED})
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.total_tf) AS BIGINT) AS total_tf
    FROM scored s JOIN documents d USING (doc_id)
    WHERE s.n_terms_matched > 0
    GROUP BY d.lang
    """,
    doc="ES terms-aggregation facets on the MANAGED text index: the "
    "unranked match aggregate (`match_docs` — every live doc matching "
    ">=1 query term, bounded by the terms' document frequencies) "
    "joined to the docs dimension, so the facet counts are snapshot-"
    "consistent with search — a DV-erased doc drops out of every "
    "facet bucket the moment the erasure commits (text_search_facets, "
    "pinned to the pre-erasure snapshot, still counts it)",
)
def q_managed_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_text_index(spark, sf_dir)
    matched = idx.match_docs(_SEARCH_TERMS)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        matched.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("total_tf").cast("long").alias("total_tf"),
        )
    )


# source doc for the managed MLT: must be LIVE in the erased artifact
# (doc 7, mlt_similar_docs' source, is erased by doc_id % 5 = 2)
_MANAGED_MLT_DOC_ID = 11


@register(
    "managed_mlt",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents WHERE NOT ({_MANAGED_ERASE_PRED})
    ),
    meta AS (
        -- stale Lucene stats: N/avgdl stay pre-delete until compaction
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    src AS (
        SELECT term, CAST(COUNT(*) AS INT) AS tf
        FROM toks WHERE doc_id = {_MANAGED_MLT_DOC_ID} GROUP BY term
    ),
    p0 AS (
        SELECT term, doc_id FROM toks
        WHERE term IN (SELECT term FROM src) GROUP BY term, doc_id
    ),
    alldf AS (SELECT term, COUNT(*) AS df FROM p0 GROUP BY term),
    ranked AS (
        SELECT s.term,
               CAST(FLOOR(CAST(s.tf AS DOUBLE)
                   * ln((CAST(meta.n AS DOUBLE) - CAST(alldf.df AS DOUBLE)
                         + 0.5) / (CAST(alldf.df AS DOUBLE) + 0.5) + 1.0)
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM src s JOIN alldf USING (term) CROSS JOIN meta
    ),
    top_terms AS (SELECT term FROM ranked ORDER BY s_fp DESC, term LIMIT 5),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE term IN (SELECT term FROM top_terms)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    )
    SELECT doc_id, SUM(s_fp) / 10000.0 AS bm25
    FROM scored WHERE doc_id <> {_MANAGED_MLT_DOC_ID}
    GROUP BY doc_id
    ORDER BY SUM(s_fp) DESC, doc_id
    LIMIT 10
    """,
    doc="ES `more_like_this` on the MANAGED text index, post-erasure: "
    "the interesting-terms tf*idf pass takes df from the LIVE "
    "(DV-filtered) postings and N/avgdl from the stale pre-delete "
    "corpus stats (the Lucene contract the managed BM25 already "
    "hash-checks), the top-5 terms BM25-search the live snapshot with "
    "the source doc excluded — erased docs neither count toward df "
    "nor appear as neighbors — the live-head twin of "
    "mlt_similar_docs, which pins the pre-erasure snapshot",
)
def q_managed_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_text_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return idx.more_like_this(docs, _MANAGED_MLT_DOC_ID, m=5, k=10)


@register(
    "managed_highlight",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents WHERE NOT ({_MANAGED_ERASE_PRED})
    ),
    meta AS (
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE list_contains({_SEARCH_TERMS!r}, term)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    ),
    hits AS (
        SELECT doc_id, SUM(s_fp) / 10000.0 AS bm25
        FROM scored GROUP BY doc_id
        ORDER BY SUM(s_fp) DESC, doc_id
        LIMIT 10
    ),
    tk AS (
        SELECT doc_id, {_NE_TOKS} AS t FROM documents
        WHERE doc_id IN (SELECT doc_id FROM hits)
    ),
    pos AS (
        SELECT doc_id,
               CAST((SELECT MIN(u.p) FROM (
                   SELECT list_position(tk.t, q) AS p
                   FROM unnest({_SEARCH_TERMS!r}) AS qt(q)
               ) u WHERE u.p IS NOT NULL AND u.p > 0) AS INT)
                   AS first_pos
        FROM tk
    )
    SELECT h.doc_id, h.bm25, pos.first_pos,
           array_to_string(
               tk.t[greatest(1, pos.first_pos - 3)
                    : least(len(tk.t), pos.first_pos + 3)],
               ' ') AS snippet
    FROM hits h JOIN pos USING (doc_id) JOIN tk USING (doc_id)
    """,
    doc="ES highlighting from stored TERM VECTORS on the managed "
    "index: BM25 top-10 at the live snapshot (stale-stats contract), "
    "then a ±3-token snippet around each hit's first matched-term "
    "occurrence — the match position comes from the postings' "
    "position lists, so the only corpus text read is the 10 hit "
    "documents' (broadcast semi-join pushed into the scan; no "
    "re-analysis, the Lucene with-term-vectors highlight path); "
    "oracle recomputes ranking, first positions, and snippets "
    "from scratch in DuckDB",
)
def q_managed_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_text_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return idx.highlight(docs, _SEARCH_TERMS, k=10, window=3)


@register(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NE_TOKS}) AS term,
               len({_NE_TOKS}) AS dl
        FROM documents
    ),
    meta AS (
        SELECT COUNT(*) AS n, SUM(len({_NE_TOKS})) AS t FROM documents
    ),
    p AS (
        SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf,
               CAST(any_value(dl) AS INT) AS dl
        FROM toks WHERE list_contains({_SEARCH_TERMS!r}, term)
        GROUP BY term, doc_id
    ),
    d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   (ln((CAST(meta.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                    * (CAST(p.tf AS DOUBLE) * 2.2
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + (0.75 * CAST(p.dl AS DOUBLE))
                                   / (CAST(meta.t AS DOUBLE)
                                      / CAST(meta.n AS DOUBLE))))))
                   * 10000.0 + 0.5) AS BIGINT) AS s_fp
        FROM p JOIN d USING (term) CROSS JOIN meta
    ),
    t_rank AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY SUM(s_fp) DESC, doc_id)
                    AS INT) AS rank
        FROM scored GROUP BY doc_id
        ORDER BY SUM(s_fp) DESC, doc_id
        LIMIT 20
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    v_scored AS (
        SELECT e.vec_id AS doc_id,
               {_COS_SQL.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qv")}
                   AS cos
        FROM embeddings e, q
    ),
    v_rank AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT)
                   AS rank
        FROM v_scored ORDER BY cos DESC, doc_id LIMIT 20
    ),
    fused AS (
        SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
               COALESCE(1.0 / (60.0 + CAST(t.rank AS DOUBLE)), 0.0)
             + COALESCE(1.0 / (60.0 + CAST(v.rank AS DOUBLE)), 0.0) AS rrf
        FROM t_rank t FULL OUTER JOIN v_rank v ON t.doc_id = v.doc_id
    )
    SELECT doc_id, FLOOR(rrf * 1000000000.0 + 0.5) / 1000000000.0 AS rrf
    FROM fused ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
    doc="hybrid retrieval with reciprocal-rank fusion (the ES 8 "
    "`rrf` retriever): BM25 top-20 from the managed index's "
    "full-corpus snapshot and "
    "brute-force-exact cosine top-20 over the embeddings (vec_id keys "
    "the same documents) fused rank-based as Σ 1/(60+rank) — no score "
    "calibration between BM25's unbounded scale and cosine's [-1,1], "
    "which is why ES fuses ranks; candidate lists are k rows by "
    "construction so the fusion join is corpus-size-independent; "
    "oracle recomputes both rankings and the fusion from scratch",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.textindex import rrf_fuse

    idx, v_full = managed_text_index(spark, sf_dir)
    text = idx.bm25(_SEARCH_TERMS, k=20, version=v_full).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .cast("int")
        .alias("rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    vec = S.cosine_topk(emb, qv, k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .cast("int")
        .alias("rank"),
    )
    fused = rrf_fuse([text, vec], "doc_id", k=10)
    return fused.select("doc_id", dround(F.col("rrf"), 9).alias("rrf"))


_SIG_FG_TERM = "spark"


@register(
    "significant_text_terms",
    f"""
    WITH dterm AS (
        SELECT DISTINCT doc_id, unnest({_NE_TOKS}) AS term FROM documents
    ),
    fg_docs AS (SELECT doc_id FROM dterm WHERE term = '{_SIG_FG_TERM}'),
    tot AS (
        SELECT (SELECT COUNT(*) FROM fg_docs) AS f,
               (SELECT COUNT(*) FROM documents) AS b
    ),
    fg AS (
        SELECT d.term, CAST(COUNT(*) AS BIGINT) AS fg_df
        FROM dterm d JOIN fg_docs USING (doc_id)
        WHERE d.term <> '{_SIG_FG_TERM}' GROUP BY d.term
    ),
    bg AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_df
        FROM dterm GROUP BY term
    ),
    sig AS (
        SELECT fg.term, fg.fg_df, bg.bg_df,
               FLOOR(CAST(fg.fg_df * tot.b
                          * (fg.fg_df * tot.b - bg.bg_df * tot.f)
                          AS DOUBLE)
                     / CAST(tot.f * tot.f * tot.b * bg.bg_df AS DOUBLE)
                     * 1000000000.0 + 0.5) / 1000000000.0 AS jlh
        FROM fg JOIN bg USING (term) CROSS JOIN tot
    )
    SELECT term, fg_df, bg_df, jlh
    FROM sig ORDER BY jlh DESC, term LIMIT 15
    """,
    doc="Elasticsearch `significant_terms` aggregation, served from "
    "the managed index's full-corpus snapshot: "
    "terms over-represented in the foreground (docs matching "
    f"'{_SIG_FG_TERM}') vs the whole corpus, ranked by ES's default "
    "JLH heuristic (fg%−bg%)×(fg%/bg%) with the query term excluded; "
    "scored as a ratio of exact int64 cross-products so the one "
    "double division is bit-identical across engines; fg doc set "
    "(bounded by the term's df) broadcasts into one partial-agg "
    "postings scan — the ES field-data walk; oracle recomputes from "
    "the raw documents",
)
def q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    return idx.significant_terms([_SIG_FG_TERM], k=15, version=v_full)


_DECON_N = 8
_DECON_BENCH_PRED = "doc_id % 17 = 3"


@register(
    "decontam_ngram_overlap",
    f"""
    WITH toks AS (SELECT doc_id, {_NE_TOKS} AS t FROM documents),
    ngr AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+{_DECON_N - 1}], ' ')
                       FOR i IN generate_series(1, len(t) - {_DECON_N - 1})])
                   AS g
        FROM toks
    ),
    dn AS (SELECT DISTINCT doc_id, g FROM ngr),
    bench AS (SELECT DISTINCT g FROM dn WHERE {_DECON_BENCH_PRED})
    SELECT dn.doc_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
    FROM dn JOIN bench USING (g)
    WHERE NOT (dn.{_DECON_BENCH_PRED})
    GROUP BY dn.doc_id
    ORDER BY shared_ngrams DESC, doc_id
    """,
    doc="test-set decontamination by exact word n-gram overlap (the "
    f"GPT-3/PaLM hygiene pass, n={_DECON_N}): training docs sharing "
    "at least one distinct n-gram with the benchmark slice "
    f"({_DECON_BENCH_PRED}), with the count of shared distinct "
    "n-grams — at sf0.01 this surfaces exactly the planted near-dups "
    "of benchmark docs; benchmark n-gram set broadcasts (eval sets "
    "are tiny vs a 100 TB corpus), train side is map-side shingle "
    "explode + broadcast semi-join + partial count, text never "
    "shuffles; oracle regenerates n-grams in DuckDB",
)
def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.expr(_DECON_BENCH_PRED))
    train = docs.filter(~F.expr(_DECON_BENCH_PRED))
    return ngram_decontaminate(train, bench, n=_DECON_N).orderBy(
        F.col("shared_ngrams").desc(), F.col("doc_id")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@register(
    "multimodal_metadata",
    """
    SELECT doc_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
    doc="binary payload column + typed metadata (schema plumbing for opaque media)",
)
def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_binary_payload(docs, "text", "doc_id")
    return media.join(
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("content_hash")),
        "doc_id",
    ).select("doc_id", "media_type", "n_bytes", "content_hash")


@register(
    "multimodal_decode",
    """
    WITH dims AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) % 31 + 1 AS INT) AS width,
               CAST(octet_length(encode(text)) % 17 + 1 AS INT) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(SUM(i % 256 + (2 * i) % 256 + (3 * i) % 256) AS BIGINT)
               AS pixel_sum
    FROM dims, generate_series(0, 526) t(i)
    WHERE i < width * height
    GROUP BY doc_id, width, height
    """,
    doc="REAL media decode over the Arrow mapInPandas pipeline: payloads "
    "are spec-conformant 24-bit BMPs (dims a deterministic function of "
    "payload size, pixel bytes a pure function of pixel index) and the "
    "decoder is an actual stdlib BMP parser — magic, pixel-array "
    "offset, DIB dims, 4-byte-padded stride walk, pixel checksum.  "
    "Fully oracle-checked: DuckDB recomputes dims and the closed-form "
    "index-sum checksum per document.  Formerly the package's one "
    "rows-only stub; the plan shape (binary column in, typed metadata "
    "out, payloads never shuffled) is unchanged.",
)
def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_binary_payload(docs, "text", "doc_id")
    return M.decode_bmp(M.encode_bmp_media(media))


@register(
    "multimodal_decode_png",
    """
    WITH dims AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) % 29 + 1 AS INT) AS width,
               CAST(octet_length(encode(text)) % 13 + 1 AS INT) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(SUM(i % 256) AS BIGINT) AS pixel_sum
    FROM dims, generate_series(0, 376) t(i)
    WHERE i < width * height
    GROUP BY doc_id, width, height
    """,
    doc="second REAL media format: 8-bit grayscale PNG built and decoded "
    "with stdlib zlib/struct (CRC-validated chunk walk, inflate, "
    "scanline unfilter) through the same Arrow mapInPandas pipeline — "
    "the 'decode is real CPU work' profile.  Oracle recomputes dims "
    "and the index-sum checksum per document.",
)
def q_mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_binary_payload(docs, "text", "doc_id")
    return M.decode_png_media(M.encode_png_media(media))


@register(
    "multimodal_decode_stats",
    """
    WITH dims AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) % 31 + 1 AS INT) AS width,
               CAST(octet_length(encode(text)) % 17 + 1 AS INT) AS height
        FROM documents
    )
    SELECT 'image/bmp' AS media_type,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(width * height) AS BIGINT) AS total_pixels,
           CAST(MAX(width) AS INT) AS max_width,
           CAST(MAX(height) AS INT) AS max_height
    FROM dims
    """,
    doc="corpus-level rollup over the real BMP decode (count / total "
    "pixels / max dims) — the 'profile the media collection' aggregate "
    "on top of multimodal_decode's per-document rows",
)
def q_mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_binary_payload(docs, "text", "doc_id")
    decoded = M.decode_bmp(M.encode_bmp_media(media))
    return decoded.groupBy(F.lit("image/bmp").alias("media_type")).agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_pixels").alias("total_pixels"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over near-dup pairs (iterative
# min-label propagation; oracle = recursive CTE transitive closure)
# ---------------------------------------------------------------------------
@register(
    "dedup_cluster_labels",
    """
    WITH RECURSIVE d AS (
        SELECT doc_id, lang,
               list_distinct(string_split(lower(text), ' ')) AS toks
        FROM documents
    ),
    e AS (
        SELECT a.doc_id AS s, b.doc_id AS t
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    ),
    sym AS (SELECT s, t FROM e UNION ALL SELECT t, s FROM e),
    walk(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT sym.t, walk.lbl FROM walk JOIN sym ON sym.s = walk.id
    )
    SELECT id AS doc_id, MIN(lbl) AS cluster FROM walk GROUP BY id
    """,
    doc="dedup clusters: iterative connected components over Jaccard≥0.9 pairs (min-label propagation ⇔ recursive-CTE closure)",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    edges = D.jaccard_pairs(
        docs, "doc_id", "text", ["lang"], threshold=0.9, shingle_k=1
    )
    nodes = docs.select("doc_id")
    return D.connected_components(
        nodes, edges, id_col="doc_id", src_col="id_a", dst_col="id_b"
    )


# ---------------------------------------------------------------------------
# Production fuzzy dedup: exact-collapse → MinHash/LSH on unique texts
# → connected components → linear label inherit.  The scale-path answer
# to the round-8 finding that raw LSH pair materialization is
# OUTPUT-bound on duplication-heavy corpora (the 1000x verbatim smoke
# filled local disk with ~10^10 candidate pair rows); collapsing first
# returns pair work to the unique-text cost while output stays one row
# per doc.  Oracle: the same collapse + the engine-portable md5-prefix
# minhash pipeline (dedup_minhash_portable's SQL) + recursive-CTE
# closure, fully hash-checked.
# ---------------------------------------------------------------------------
def _fuzzy_cluster_sql(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    ctes = _portable_minhash_ctes(
        "(SELECT d.doc_id, d.text FROM documents d "
        "JOIN reps r ON d.doc_id = r.rep)",
        num_perm,
        bands,
        threshold,
    )
    return f"""
    WITH RECURSIVE grp AS (
        SELECT doc_id, md5(text) AS chash
        FROM documents WHERE text IS NOT NULL
    ), reps AS (
        SELECT chash, MIN(doc_id) AS rep FROM grp GROUP BY chash
    ), {ctes}, sym AS (
        SELECT id_a AS s, id_b AS t FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ), walk(id, lbl) AS (
        SELECT rep, rep FROM reps
        UNION
        SELECT sym.t, walk.lbl FROM walk JOIN sym ON sym.s = walk.id
    ), rep_lbl AS (
        SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id
    )
    SELECT g.doc_id, rl.cluster
    FROM grp g
    JOIN reps r ON g.chash = r.chash
    JOIN rep_lbl rl ON r.rep = rl.id
    UNION ALL
    SELECT doc_id, doc_id AS cluster FROM documents WHERE text IS NULL
    """


@register(
    "dedup_fuzzy_clusters",
    _fuzzy_cluster_sql(),
    doc=(
        "production fuzzy dedup: exact-collapse verbatim copies → "
        "portable MinHash(16)+LSH(4 bands) on unique texts → connected "
        "components → every doc inherits its representative's cluster "
        "(linear output at any duplication factor)"
    ),
)
def q_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.fuzzy_dedup_clusters(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_perm=16,
        bands=4,
        shingle_k=3,
        max_bucket_size=None,
        portable=True,
    )


@register(
    "dedup_fuzzy_clusters_fast",
    None,
    doc=(
        "fast-path twin of dedup_fuzzy_clusters (xxhash64 hashing, "
        "bucket cap 1000) — the production/bench variant; rows-only by "
        "design, the portable twin IS hash-checked over the same "
        "pipeline (the dedup_minhash_lsh / dedup_minhash_portable "
        "relationship)"
    ),
)
def q_fuzzy_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.fuzzy_dedup_clusters(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        num_perm=16,
        bands=4,
        shingle_k=3,
        max_bucket_size=1000,
    )


_IVF_K, _IVF_NPROBE, _IVF_ITERS, _IVF_SAMPLE = 8, 3, 10, 256


def ivf_centroids_cached(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Coarse-quantizer centroids for this fixture — trained once per
    (sf_dir) and reused by every IVF-family query (ann_ivf_topk,
    ann_ivfpq_topk): the offline-trained-quantizer cost model."""
    return artifact(
        "ivf_centroids",
        sf_dir,
        lambda: S.train_ivf_centroids_portable(
            load_table(spark, sf_dir, "embeddings"), "embedding", "vec_id",
            k=_IVF_K, iters=_IVF_ITERS, sample_size=_IVF_SAMPLE,
        ),
    )


def _ivf_oracle_sql(sf_dir: str, corpus_pred: str = "TRUE") -> str:
    """Data-dependent oracle: trains the SAME coarse quantizer as the
    Spark query — identical md5-hash-ordered sample, identical `_lloyd`
    numpy iterations — from a DuckDB read of the same parquet, then
    embeds the resulting centroids (and the nprobe probe set) as
    literals.  Assignment mirrors `with_cluster` exactly: squared
    distance is the same sequential (x−y)² fold (`list_dot_product` of
    the diff with itself ⇔ Spark's zip_with/aggregate), ties break to
    the lower centroid index, then cosine top-k over the probed cells.

    ``corpus_pred``: extra SQL predicate restricting which vectors are
    IN the index (the erasure twin deletes a slice) — the quantizer
    still trains on the FULL corpus either way, mirroring the frozen
    offline quantizer of the maintained index."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    con.close()
    centroids = S.train_ivf_centroids_rows(
        rows, k=_IVF_K, iters=_IVF_ITERS, sample_size=_IVF_SAMPLE
    )
    qv = [float(x) for x in next(v for i, v in rows if i == 0)]
    probes = S.nearest_clusters(centroids, qv, _IVF_NPROBE)
    cent_values = ", ".join(
        f"({i}, {c!r}::DOUBLE[])" for i, c in enumerate(centroids)
    )
    probe_list = ", ".join(str(p) for p in probes)
    sqd = (
        "list_dot_product("
        "[e.v[i] - cv[i] FOR i IN generate_series(1, len(e.v))], "
        "[e.v[i] - cv[i] FOR i IN generate_series(1, len(e.v))])"
    )
    return f"""
    WITH cent(c, cv) AS (VALUES {cent_values}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE {corpus_pred}),
    assigned AS (
        SELECT e.vec_id, e.v,
               (SELECT c FROM cent ORDER BY {sqd} ASC, c ASC LIMIT 1) AS cl
        FROM e
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    cand AS (SELECT vec_id, v FROM assigned WHERE cl IN ({probe_list}))
    SELECT cand.vec_id,
           FLOOR({_COS_SQL.format(a="cand.v", b="q.qv")} * 1000000.0 + 0.5)
               / 1000000.0 AS cos_sim
    FROM cand, q
    ORDER BY {_COS_SQL.format(a="cand.v", b="q.qv")} DESC, cand.vec_id
    LIMIT 10
    """


@register(
    "ann_ivf_topk",
    _ivf_oracle_sql,
    doc="IVF ANN: sample-trained k-means coarse quantizer (bounded driver-side Lloyd over a portable md5-hash-ordered sample, one corpus scan) + nprobe cluster-probed cosine top-k in a second scan — <=2 corpus passes per query; fully oracle-checked via a lazy data-dependent oracle that retrains identical literal centroids from the same parquet (recall vs brute force additionally asserted in tests)",
)
def q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    # Quantizer trains on a bounded hash-ordered sample (pass 1); the
    # probe stamps + filters in one more scan (pass 2).  At production
    # scale the centroids come from an offline job and the cluster id
    # is an ingest-stamped partition column (ManagedIvfIndex, see
    # ann_ivf_indexed_topk) — the probe then reads nprobe/n_centroids
    # of the FILES, not just of the rows.
    cent = ivf_centroids_cached(spark, sf_dir)
    out = S.ivf_topk(emb, qv, k=10, nprobe=_IVF_NPROBE, centroids=cent)
    return out.select("vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim"))


@register(
    "ann_ivf_indexed_topk",
    _ivf_oracle_sql,
    doc="IVF ANN over the ingest-time index at its full-corpus "
    "snapshot: embeddings laid out by coarse-quantizer cell in the "
    "managed IVF index (a once-per-fixture artifact), probed at "
    "version=v_full by manifest partition pruning — read_partitions "
    "lists only the nprobe nearest cell fragments (pinned by test), so "
    "per-query I/O is nprobe/n_cells of the FILES at any corpus size.  "
    "Same assignment, same results, same retrained-literal oracle as "
    "ann_ivf_topk — this is its production (ingest-indexed) twin.",
)
def q_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_ivf_index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    out = idx.probe(qv, k=10, nprobe=_IVF_NPROBE, version=v_full)
    return out.select("vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim"))


def managed_ivf_index(spark: SparkSession, sf_dir: str):
    """(index, v_full): the IVF index for this fixture, embeddings
    laid out by coarse-quantizer cell in `ManagedIvfIndex`
    (ManifestSnapshotTable partitioned on ``__c``) and built
    INCREMENTALLY — a bulk build commit, then an append commit of the
    held-out slice (pruned MERGE: only the slice's cells rewrite),
    then a same-cell re-upsert (latest ``__seq`` wins), then
    scatter-triggered compaction.  ``v_full`` is the append commit,
    the first snapshot holding the whole corpus.  Every snapshot from
    ``v_full`` on is exactly the full embeddings corpus, so probes
    share ann_ivf_topk's retrained-literal oracle."""

    def build():
        import tempfile

        from ..operators.ann_index import ManagedIvfIndex

        emb = load_table(spark, sf_dir, "embeddings")
        idx = ManagedIvfIndex(
            spark,
            tempfile.mkdtemp(prefix="sparkgraft_ivfmgd_"),
            ivf_centroids_cached(spark, sf_dir),
        )
        idx.upsert(emb.filter(F.col("vec_id") % 5 != 0))       # bulk build
        v_full = idx.upsert(emb.filter(F.col("vec_id") % 5 == 0))  # append
        idx.upsert(emb.filter(F.col("vec_id") % 10 == 1))      # re-upsert
        idx.maybe_compact(max_scatter=2)
        return idx, v_full

    return artifact("ivf_index_managed", sf_dir, build)


@register(
    "ann_ivf_index_upsert",
    _ivf_oracle_sql,
    doc="IVF ANN over the MANAGED index (ManagedIvfIndex = the "
    "materialized cell layout routed through ManifestSnapshotTable): "
    "built incrementally — bulk commit + pruned append of a held-out "
    "slice (only its cells rewrite) + same-cell re-upsert + "
    "scatter-triggered compaction — then probed by manifest partition "
    "pruning (read_partitions lists only the nprobe cell fragments). "
    "Final content equals the full corpus, so it shares ann_ivf_topk's "
    "retrained-literal oracle; the build path is the index-maintenance "
    "lifecycle (appends, updates, compaction, snapshot isolation) a "
    "production ANN service needs at 100 TB.",
)
def q_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_ivf_index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    out = idx.probe(qv, k=10, nprobe=_IVF_NPROBE)
    return out.select("vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim"))


# delete vec_id % 17 == 5 from the index — never vec_id 0 (the query)
_IVF_ERASE_PRED = "vec_id % 17 <> 5"


def managed_ivf_index_erased(spark: SparkSession, sf_dir: str):
    """The managed index AFTER right-to-erasure: full corpus indexed,
    then an erasure batch deleted by id.  A separate artifact (its own
    table path) so the shared `managed_ivf_index` stays the full
    corpus for its oracle.  The delete's key location is metadata-only
    — the table blooms its ids (`bloom_ids=True` default), so the
    erasure batch probes bitsets instead of scanning every cell
    (`_locate_key_fragments` bloom fast path)."""

    def build():
        import tempfile

        from ..operators.ann_index import ManagedIvfIndex

        emb = load_table(spark, sf_dir, "embeddings")
        idx = ManagedIvfIndex(
            spark,
            tempfile.mkdtemp(prefix="sparkgraft_ivferase_"),
            ivf_centroids_cached(spark, sf_dir),
        )
        idx.upsert(emb)
        idx.delete(emb.filter(~F.expr(_IVF_ERASE_PRED)).select("vec_id"))
        return idx

    return artifact("ivf_index_erased", sf_dir, build)


@register(
    "ann_ivf_index_erasure",
    lambda sf_dir: _ivf_oracle_sql(sf_dir, corpus_pred=_IVF_ERASE_PRED),
    doc="right-to-erasure on the managed IVF index: delete a keyed "
    "slice of vectors (bloom-located — the per-file id bitsets bound "
    "the locate step to metadata, no corpus scan), then probe; the "
    "oracle is the same retrained-literal IVF top-k computed over the "
    "corpus MINUS the erased ids (quantizer still trained on the full "
    "corpus — the frozen offline quantizer is not retrained by "
    "deletes, matching FAISS remove_ids semantics)",
)
def q_ivf_index_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = managed_ivf_index_erased(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    out = idx.probe(qv, k=10, nprobe=_IVF_NPROBE)
    return out.select("vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim"))


_KNN_QPRED = "vec_id % 97 = 1"
_KNN_K, _KNN_NPROBE = 3, 2


def _ivf_knn_join_oracle_sql(sf_dir: str) -> str:
    """Retrained-literal oracle for the index-backed batch k-NN join:
    the same centroids / assignment / tie-breaks as `_ivf_oracle_sql`,
    plus per-QUERY probe-cell selection (top-nprobe cells by the same
    squared distance, ties to the lower cell — the `array_sort` over
    (d, i) structs convention) and a per-query top-k window."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    con.close()
    centroids = S.train_ivf_centroids_rows(
        rows, k=_IVF_K, iters=_IVF_ITERS, sample_size=_IVF_SAMPLE
    )
    cent_values = ", ".join(
        f"({i}, {c!r}::DOUBLE[])" for i, c in enumerate(centroids)
    )

    def sqd(vec: str) -> str:
        d = f"[{vec}[i] - cv[i] FOR i IN generate_series(1, len({vec}))]"
        return f"list_dot_product({d}, {d})"

    return f"""
    WITH cent(c, cv) AS (VALUES {cent_values}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assigned AS (
        SELECT e.vec_id, e.v,
               (SELECT c FROM cent ORDER BY {sqd("e.v")} ASC, c ASC
                LIMIT 1) AS cl
        FROM e
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE {_KNN_QPRED}),
    qc AS (
        SELECT q_id, qv, c FROM (
            SELECT q.q_id, q.qv, cent.c,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                       ORDER BY {sqd("q.qv")} ASC, cent.c ASC) AS rn
            FROM q, cent
        ) WHERE rn <= {_KNN_NPROBE}
    ),
    scored AS (
        SELECT qc.q_id, a.vec_id,
               {_COS_SQL.format(a="a.v", b="qc.qv")} AS cos
        FROM qc JOIN assigned a ON a.cl = qc.c
    ),
    ranked AS (
        SELECT q_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, vec_id ASC) AS rk
        FROM scored
    )
    SELECT q_id, vec_id,
           FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
           CAST(rk AS INT) AS rank
    FROM ranked WHERE rk <= {_KNN_K}
    """


@register(
    "ann_index_knn_join",
    _ivf_knn_join_oracle_sql,
    doc="batch k-NN JOIN through the managed IVF index: every query "
    "vector's probe cells stamped engine-side (broadcast centroid "
    "table), the index side reads only the UNION of probed cell "
    "fragments (manifest partition pruning — bounded by the cell "
    "count, never the corpus), exploded queries broadcast into the "
    "equi-join so index rows never shuffle, exact cosine + per-query "
    "top-k window inside the matched cells; oracle retrains identical "
    "literal centroids and replays the same probe/rank tie-breaks",
)
def q_ivf_index_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _v_full = managed_ivf_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_KNN_QPRED)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = idx.knn_join(queries, k=_KNN_K, nprobe=_KNN_NPROBE)
    return out.select(
        "q_id",
        "vec_id",
        dround(F.col("cos_sim"), 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "winnow_fingerprints",
    """
    WITH hs AS (
        SELECT doc_id,
               CASE WHEN length(text) >= 4
                    THEN [md5(text[i:i+3]) FOR i IN generate_series(1, length(text)-3)]
                    ELSE CAST([] AS VARCHAR[]) END AS h
        FROM documents
    ),
    wins AS (
        SELECT doc_id,
               CASE WHEN len(h) >= 5
                    THEN [list_min(h[j:j+4]) FOR j IN generate_series(1, len(h)-4)]
                    WHEN len(h) > 0 THEN [list_min(h)]
                    ELSE CAST([] AS VARCHAR[]) END AS w
        FROM hs
    )
    SELECT doc_id,
           CAST(len(list_distinct(w)) AS INT) AS n_fp,
           md5(array_to_string(list_sort(list_distinct(w)), '|')) AS fingerprint
    FROM wins
    """,
    doc="winnowing (MOSS) fingerprint: rolling 4-gram md5 + 5-wide window minima; shared substrings ≥ w+k-1 guarantee shared fingerprints",
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hs = docs.select(
        "doc_id", T.gram_hashes(F.col("text"), 4).alias("__h")
    )
    fp = hs.select(
        "doc_id", T.winnow_min_set(F.col("__h"), 5).alias("__w")
    )
    return fp.select(
        "doc_id",
        F.size("__w").alias("n_fp"),
        F.md5(F.concat_ws("|", F.col("__w"))).alias("fingerprint"),
    )


_SCRUB_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'[0-9][0-9 ()\\-]{6,}[0-9]', '<PHONE>', 'g'), "
    "'@[A-Za-z0-9_]{2,}', '<HANDLE>', 'g')"
)


@register(
    "text_scrubbed",
    f"""
    SELECT doc_id,
           md5({_SCRUB_SQL}) AS scrubbed_hash,
           CAST(length({_SCRUB_SQL}) AS INT) AS scrubbed_len,
           CAST(({_SCRUB_SQL} <> text) AS BOOLEAN) AS was_scrubbed
    FROM documents
    """,
    doc="PII-style scrubbing (email/phone/handle redaction) — identical regex semantics on both engines",
)
def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = T.scrub_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_hash"),
        F.length(scrubbed).cast("int").alias("scrubbed_len"),
        (scrubbed != F.col("text")).alias("was_scrubbed"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline — the north-star ops COMPOSED the way a
# training-data run actually chains them: quality gate → PII scrub →
# exact dedup on the scrubbed content → leakage-free split.  One
# declarative plan (Catalyst fuses the scalar stages into the scan
# projection; the only shuffles are the dedup hash-groupBy and its
# semi-join), oracle-checked end to end.
# ---------------------------------------------------------------------------
def _curation_sql() -> str:
    quality = "FLOOR({q} * 10000.0 + 0.5) / 10000.0".format(
        q=_QUALITY_SQL.format(sw=_sw_sql("en"))
    )
    return f"""
    WITH kept AS (
        SELECT doc_id, lang, text, {quality} AS quality
        FROM documents
        WHERE text IS NOT NULL AND {quality} >= 0.5
    ), cleaned AS (
        SELECT doc_id, lang, quality, {_SCRUB_SQL} AS clean FROM kept
    ), dedup AS (
        SELECT * FROM cleaned
        WHERE doc_id IN (SELECT min(doc_id) FROM cleaned GROUP BY md5(clean))
    )
    SELECT doc_id, lang, quality, md5(clean) AS content_hash,
           CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM dedup
    """


@register(
    "curation_pipeline",
    _curation_sql(),
    doc=(
        "end-to-end curation: quality gate ≥0.5 → PII scrub → exact dedup "
        "on scrubbed content → 80/10/10 leakage-free split"
    ),
)
def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    kept = docs.withColumn(
        "quality", dround(T.quality_score(F.col("text")), 4)
    ).filter(F.col("quality") >= 0.5)
    # Hash the scrubbed content ONCE and drop the text before the dedup
    # shuffle: the exchange carries (id, lang, quality, 32-char hash),
    # never document payloads, and the regex stages run exactly once (a
    # groupBy+semi-join dedup would evaluate them on both branches).
    hashed = kept.select(
        "doc_id",
        "lang",
        "quality",
        F.md5(T.scrub_text(F.col("text"))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    deduped = (
        hashed.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    split = SA.hash_split(
        deduped, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.select("doc_id", "lang", "quality", "content_hash", "split")


# ---------------------------------------------------------------------------
# Token counting (SURVEY.md north-star "token counting: whitespace + a
# BPE-ish regex") — the per-doc token budget columns every training-data
# pipeline stamps before packing/sampling.  Pure map-side projection
# (regex + size, no shuffle); chars-per-token is the usual cheap
# fertility proxy for tokenizer cost estimation.
# ---------------------------------------------------------------------------
@register(
    "doc_token_counts",
    r"""
    SELECT doc_id, lang,
           CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
               AS n_bpe_tokens,
           CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) > 0
                THEN FLOOR(CAST(length(text) AS DOUBLE)
                           / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                           * 10000.0 + 0.5) / 10000.0
                ELSE 0.0 END AS chars_per_token
    FROM documents WHERE text IS NOT NULL
    """,
    doc="per-doc token budgets: whitespace + BPE-ish regex counts, chars/token fertility",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_bpe = T.bpe_ish_token_count(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        T.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(
            n_bpe > 0,
            dround(F.length("text").cast("double") / n_bpe, 4),
        )
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Context packing — concat-then-chunk assignment of docs to fixed token
# budgets (the step after token counting in a pretraining pipeline).
# ---------------------------------------------------------------------------
@register(
    "token_pack_assignments",
    r"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, lang, n_tokens,
           CAST(offset_tokens AS BIGINT) AS offset_tokens,
           CAST(offset_tokens // 2048 AS BIGINT) AS pack_seq
    FROM (
        SELECT doc_id, lang, n_tokens,
               -- CAST: DuckDB types SUM(BIGINT) OVER as HUGEINT (INT128);
               -- the driver's pandas fetch renders HUGEINT as float64 and the
               -- value hash diverges from Spark's long output.
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS offset_tokens
        FROM t
    )
    """,
    doc="concat-then-chunk packing: per-lang doc stream laid end to end, pack id = start offset div 2048-token budget",
)
def q_token_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import pack_by_token_budget

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        "lang",
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_by_token_budget(toks, "doc_id", "n_tokens", 2048, "lang").select(
        "doc_id", "lang", "n_tokens", "offset_tokens", "pack_seq"
    )


@register(
    "token_pack_manifest",
    r"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ), packed AS (
        SELECT doc_id, lang, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // 2048 AS BIGINT) AS pack_seq
        FROM t
    )
    SELECT lang, pack_seq,
           MIN(doc_id) AS begin_doc_id,
           MAX(doc_id) AS end_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY lang, pack_seq
    """,
    doc="pack manifest for downstream consumers: per (lang, pack) boundary "
    "doc ids + doc/token counts — the artifact a pretraining loader reads, "
    "not just the per-doc assignment",
)
def q_token_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import pack_manifest

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        "lang",
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_manifest(toks, "doc_id", "n_tokens", 2048, "lang")


# ---------------------------------------------------------------------------
# Repetition-based quality signals (Gopher-style filters).
# ---------------------------------------------------------------------------
@register(
    "repetition_scores",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ), per_doc AS (
        SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
               CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_token_frac
        FROM toks
    ), u AS (
        SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i FROM toks
    ), bi AS (
        SELECT doc_id,
               tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY i) AS bg
        FROM u
    ), bc AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bi WHERE bg IS NOT NULL
        GROUP BY doc_id, bg
    ), top AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
        FROM bc GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_tokens, p.distinct_token_frac,
           COALESCE(top.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM per_doc p LEFT JOIN top USING (doc_id)
    """,
    doc="Gopher-style repetition filters: distinct-token fraction + top-bigram fraction per doc",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.repetition_stats(docs, "doc_id", "text")


@register(
    "chunk_dedup_docs",
    """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    tot AS (
        SELECT doc_id, CAST((len(words)-1)//4 + 1 AS BIGINT) AS n_chunks
        FROM d),
    ix AS (
        SELECT doc_id, words,
               unnest(generate_series(0, (len(words)-1)//4)) AS ci
        FROM d),
    ch AS (
        SELECT doc_id, ci,
               array_to_string(words[ci*4+1:(ci+1)*4], ' ') AS chunk
        FROM ix),
    k AS (
        SELECT doc_id, ci, chunk,
               ROW_NUMBER() OVER (
                   PARTITION BY ('0x'||substr(md5(chunk),1,15))::BIGINT
                   ORDER BY doc_id, ci) AS rn
        FROM ch),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(chunk, ' ' ORDER BY ci) AS cleaned_text
        FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
    doc="sub-document (chunk-level) dedup, C4-style: 4-word chunks deduped "
    "corpus-wide by portable hash (first occurrence wins), survivors "
    "reassembled into cleaned per-doc text — boilerplate spans stripped "
    "while unique prose survives; election = one skew-free hash shuffle",
)
def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.chunk_dedup(docs, "text", "doc_id", chunk_words=4)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: within a coarse embedding block, drop
# every vector that has a >= tau cosine neighbor with a lower id (first
# occurrence wins — the embedding-space analog of exact-hash dedup).
# Blocks here are the fixture's label partitions; at 100 TB the block is
# an IVF cell from a sample-trained quantizer (ManagedIvfIndex), so the
# quadratic compare is bounded per cell and cells join co-partitioned —
# never an all-pairs corpus join.
# ---------------------------------------------------------------------------
@register(
    "semantic_dedup_keep",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_COS_SQL.format(a="a.v", b="b.v")} >= 0.4
    )
    SELECT e.vec_id, e.label FROM e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
    """,
    doc="semantic (embedding-cosine) dedup: block-bounded near-dup drop, "
    "keep-lowest-id survivor per similarity clique edge; blocks = IVF "
    "cells in production, so cost is per-cell quadratic, not corpus "
    "quadratic",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = emb.select(
        F.col("label"), F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    dups = (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(S.cosine(F.col("va"), F.col("vb")) >= 0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(dups, "vec_id", "left_anti").select("vec_id", "label")


# ---------------------------------------------------------------------------
# Overlapping context-window chunking (RAG / training-window prep):
# fixed word window with stride overlap so no span is lost at chunk
# boundaries.  Pure map-side (split + sequence + slice, one generate/
# explode per row, no shuffle at all) — the complement of
# pack_by_token_budget, which concatenates docs; this splits them.
# ---------------------------------------------------------------------------
_CHUNK_W = 40
_CHUNK_S = 30


@register(
    "doc_overlap_chunks",
    f"""
    WITH w AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS words
        FROM documents
    ), ix AS (
        SELECT doc_id, words,
               unnest(generate_series(0, (len(words)-1)//{_CHUNK_S})) AS chunk_id
        FROM w WHERE len(words) >= 1
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(
               words[chunk_id*{_CHUNK_S}+1 : chunk_id*{_CHUNK_S}+{_CHUNK_W}],
               ' ') AS chunk
    FROM ix
    """,
    doc=f"overlapping {_CHUNK_W}-word chunks at stride {_CHUNK_S} "
    "(10-word overlap): RAG/context-window prep, fully map-side",
)
def q_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    n = F.size(words)
    out = (
        docs.select("doc_id", words.alias("words"))
        .filter(n >= 1)
        .select(
            "doc_id",
            F.posexplode(
                F.sequence(
                    F.lit(0), F.floor((F.size("words") - 1) / _CHUNK_S)
                )
            ).alias("_p", "chunk_id"),
            "words",
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(
                    F.col("words"),
                    F.col("chunk_id") * _CHUNK_S + 1,
                    F.lit(_CHUNK_W),
                ),
                " ",
            ).alias("chunk"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Exact-quota stratified holdout: exactly N docs per language, membership
# decided by portable key-hash order (reproducible on any engine / any
# partitioning), not by rate.  Rate-based sampling (sample_stratified_by
# _lang) can't promise "exactly 1000 eval docs per language"; this does.
# One shuffle on the stratum key; Spark's WindowGroupLimit pushes the
# rank<=N filter map-side so only ~N rows per stratum per task shuffle.
# ---------------------------------------------------------------------------
_QUOTA = 20


@register(
    "sample_quota_per_lang",
    f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT,
                            doc_id) AS rk
        FROM documents)
    WHERE rk <= {_QUOTA}
    """,
    doc=f"exact {_QUOTA}-doc-per-language holdout by portable hash order "
    "— deterministic quota sampling (vs rate-based stratified sample)",
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        D.portable_hash64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Batch ANN: LSH-bucketed k-NN JOIN.  knn_join (registered as
# knn_join_sample) scores |corpus|x|queries| rows — fine for small
# batches, quadratic at scale.  This joins on hyperplane-signature probe
# keys instead: O(|corpus| + |queries|·probes) keyed rows through the
# shuffle, then exact cosine only inside matched buckets.  The seeded
# hyperplanes are embedded as literals in BOTH engines, so the entire
# pipeline (signatures, probe explosion, bucket join, scoring, per-query
# top-k) is oracle-checked — not rows-only.
# ---------------------------------------------------------------------------
def _ann_knn_join_sql(
    dim: int, n_planes: int = 8, k: int = 3, n_queries: int = 20
) -> str:
    planes = S.hyperplanes(dim, n_planes)

    def sig_expr(v: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product({v}, {p!r}) > 0 "
            f"THEN {2**i}::BIGINT ELSE 0::BIGINT END)"
            for i, p in enumerate(planes)
        )
        return f"({terms})"

    probe_list = ", ".join(
        ["sig"] + [f"xor(sig, {2**i}::BIGINT)" for i in range(n_planes)]
    )
    return f"""
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ), cs AS (
        SELECT vec_id, cv, {sig_expr("cv")} AS bkt FROM c
    ), q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {n_queries}
    ), qs AS (
        SELECT q_id, qv, {sig_expr("qv")} AS sig FROM q
    ), probed AS (
        SELECT q_id, qv, unnest([{probe_list}]) AS bkt FROM qs
    ), scored AS (
        SELECT p.q_id, cs.vec_id,
               list_dot_product(p.qv, cs.cv)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(cs.cv, cs.cv))) AS cos
        FROM cs JOIN probed p ON cs.bkt = p.bkt
    ), ranked AS (
        SELECT q_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
    SELECT q_id, vec_id,
           FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@register(
    "ann_knn_join",
    lambda sf_dir: _ann_knn_join_sql(dim=_emb_dim(sf_dir)),
    doc="LSH-bucketed batch k-NN join: both sides signature-stamped, "
    "query side multi-probe-exploded, equi-join on probe key — "
    "O(corpus + queries·probes) shuffle rows vs the exact join's "
    "corpus×queries; fully oracle-checked via literal hyperplanes",
)
def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = S.ann_knn_join(
        queries, emb, k=3, n_planes=8, probe_flips=1
    )
    return out.select(
        "q_id",
        "vec_id",
        dround(F.col("cos_sim"), 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Soft dedup: instead of dropping duplicates, weight every doc by
# 1/duplicate-group-size so each unique text contributes unit mass to
# the training mixture (the resampling-weight alternative to hard dedup
# — keeps provenance diversity while removing duplication bias).  One
# hash shuffle; text never shuffles (group key is md5(text)).
# ---------------------------------------------------------------------------
@register(
    "dedup_soft_weights",
    """
    SELECT doc_id,
           CAST(n AS BIGINT) AS group_size,
           FLOOR(1.0 / n * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY md5(text)) AS n
        FROM documents)
    """,
    doc="soft dedup: per-doc resampling weight 1/duplicate-group-size "
    "(unit mass per unique text) — the keep-everything alternative to "
    "hard dedup; one md5-key shuffle, text never moves",
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-project first: a count window over md5(text) would shuffle
    # full rows (text included); aggregating (hash → count) and joining
    # back on the hash moves only (doc_id, hash) and (hash, count) rows
    # — partial-aggregated map-side, text stays in the scan.
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5("text").alias("__h"))
    counts = h.groupBy("__h").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size")
    )
    return (
        h.join(counts, "__h")
        .select(
            "doc_id",
            "group_size",
            dround(F.lit(1.0) / F.col("group_size"), 6).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus curation dashboard: per (lang, source) doc counts, token
# totals, and mean quality with ROLLUP subtotals — the computational
# content of the reference's Kibana/Streamlit monitoring surface aimed
# at the LLM-curation side.  One Expand+aggregate pass (partial
# aggregation map-side); the mean is derived from an exact DECIMAL sum
# of per-doc 4-dp quality so grand totals are partition-order
# independent and engine-identical.
# ---------------------------------------------------------------------------
@register(
    "corpus_quality_rollup",
    f"""
    WITH per AS (
        SELECT lang, source,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks,
               CAST(FLOOR({_QUALITY_SQL.format(sw=_sw_sql('en'))} * 10000.0 + 0.5)
                    / 10000.0 AS DECIMAL(14,4)) AS q4
        FROM documents
    )
    SELECT COALESCE(lang, 'ALL') AS lang,
           COALESCE(source, 'ALL') AS source,
           CAST(GROUPING(lang) AS INT) AS g_lang,
           CAST(GROUPING(source) AS INT) AS g_source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           FLOOR(CAST(SUM(q4) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0
               AS avg_quality
    FROM per GROUP BY ROLLUP(lang, source)
    """,
    doc="curation dashboard rollup: (lang, source) doc/token/quality "
    "stats with ROLLUP subtotals; exact decimal quality sums keep the "
    "means partition-order independent",
)
def q_corpus_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "source",
        T.ws_token_count(F.col("text")).cast("bigint").alias("toks"),
        dround(T.quality_score(F.col("text")), 4)
        .cast("decimal(14,4)")
        .alias("q4"),
    )
    return per.rollup("lang", "source").agg(
        F.grouping("lang").cast("int").alias("g_lang"),
        F.grouping("source").cast("int").alias("g_source"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        dround(
            F.sum("q4").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_quality"),
    ).select(
        F.coalesce("lang", F.lit("ALL")).alias("lang"),
        F.coalesce("source", F.lit("ALL")).alias("source"),
        "g_lang",
        "g_source",
        "n_docs",
        "total_tokens",
        "avg_quality",
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization report: per-vector symmetric quantization
# (scale = max|x|/127) + reconstruction cosine — the storage/bandwidth
# lever for 100 TB ANN (4× smaller candidate payloads; dequantized
# scoring).  FLOOR(x+0.5) rounding and sequential double folds keep
# every code and cosine engine-identical, so the whole quantize →
# dequantize → score pipeline is oracle-checked.
# ---------------------------------------------------------------------------
@register(
    "embedding_quantize_int8",
    """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM e
    ), d AS (
        SELECT vec_id, v, scale,
               list_transform(v, x ->
                   GREATEST(-127.0, LEAST(127.0, FLOOR(x / scale + 0.5)))
                   * scale) AS dq
        FROM s WHERE scale > 0
    )
    SELECT vec_id,
           FLOOR(scale * 1000000000.0 + 0.5) / 1000000000.0 AS scale9,
           FLOOR(list_dot_product(v, dq)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_recon
    FROM d
    """,
    doc="symmetric per-vector int8 quantization + reconstruction cosine "
    "— 4x smaller ANN payloads, quantize/dequantize/score fully "
    "oracle-checked via portable FLOOR rounding",
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = S.quantize_int8(emb).filter(F.col("scale") > 0)
    dq = S.dequantized(F.col("codes"), F.col("scale"))
    return q.select(
        "vec_id",
        dround(F.col("scale"), 9).alias("scale9"),
        dround(S.cosine(F.col("__v"), dq), 6).alias("cos_recon"),
    )


# ---------------------------------------------------------------------------
# Quality-proportional (importance) sampling: keep each doc with
# probability = its quality score, decided by the portable key hash —
# deterministic, map-side, engine-identical.  The curation lever between
# hard quality gating (curation_pipeline) and uniform sampling
# (sample_hash_10pct): high-quality docs are kept at ~1.0, low-quality
# docs survive at their score rate, so the corpus tilts toward quality
# without a cliff.
# ---------------------------------------------------------------------------
@register(
    "quality_weighted_sample",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               FLOOR({_QUALITY_SQL.format(sw=_sw_sql('en'))} * 10000.0 + 0.5)
                   AS q_buckets
        FROM documents
    )
    SELECT doc_id, lang FROM scored
    WHERE {_BUCKET_SQL} < q_buckets
    """,
    doc="importance sampling: keep-probability = quality score, decided "
    "by portable key hash (deterministic, map-side) — quality-tilted "
    "corpus without a hard gate",
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    q_buckets = F.floor(
        dround(T.quality_score(F.col("text")), 4) * 10000.0 + F.lit(0.5)
    )
    return docs.filter(
        SA.sample_bucket(F.col("doc_id")) < q_buckets
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Per-language quality percentile: rank each doc's quality within its
# language (percent_rank, ties broken by doc_id for determinism).
# Quality scores aren't comparable across languages (stopword lists,
# char ratios differ) — per-lang percentile normalization is how real
# curation pipelines set one keep-threshold that means the same thing
# in every language.  One shuffle on lang; rank is computed in the same
# pass.
# ---------------------------------------------------------------------------
@register(
    "quality_percentile_by_lang",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               FLOOR({_QUALITY_SQL.format(sw=_sw_sql('en'))} * 10000.0 + 0.5)
                   / 10000.0 AS quality
        FROM documents
    )
    SELECT doc_id, lang, quality,
           FLOOR(PERCENT_RANK() OVER (PARTITION BY lang
                                      ORDER BY quality, doc_id)
                 * 1000000.0 + 0.5) / 1000000.0 AS q_pctile
    FROM scored
    """,
    doc="per-language quality percentile (percent_rank, doc_id "
    "tie-break): cross-lingual quality normalization so one percentile "
    "threshold means the same thing in every language",
)
def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        dround(T.quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return scored.select(
        "doc_id",
        "lang",
        "quality",
        dround(F.percent_rank().over(w), 6).alias("q_pctile"),
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classification confusion matrix — the embedding-
# quality eval every labeled corpus gets: assign each vector to its
# nearest label centroid and count (true, assigned) pairs.  Centroids
# are the 6-dp-quantized vec_id-ordered folds over the SAME bounded
# hash-ordered sample as embedding_label_centroids (per-group state ≤
# sample_size — nothing here grows with the corpus); distances are
# sequential squared-difference folds with ties broken to the
# lexicographically first label, so the whole classify → confusion
# pipeline is oracle-checked.  Scale shape: centroids are broadcast
# data (labels × dim doubles), assignment is one map-side pass over the
# FULL corpus, confusion is a tiny aggregate.
# ---------------------------------------------------------------------------
@register(
    "centroid_confusion_matrix",
    f"""
    WITH smp AS ({_CENT_SAMPLE_SQL}),
    x AS (
        SELECT label, vec_id, u['dim'] AS dim, u['v'] AS v FROM (
            SELECT label, vec_id,
                   unnest(list_transform(range(1, len(embedding) + 1),
                       i -> {{'dim': i - 1, 'v': CAST(embedding[i] AS DOUBLE)}})) AS u
            FROM smp
        )
    ), g AS (
        SELECT label, dim,
               FLOOR(list_reduce(list(v ORDER BY vec_id), (acc, e) -> acc + e)
                     / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS c
        FROM x GROUP BY label, dim
    ), cent AS (
        SELECT label, list(c ORDER BY dim) AS cv FROM g GROUP BY label
    ), e AS (
        SELECT vec_id, label AS true_label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), scored AS (
        SELECT e.vec_id, e.true_label, cent.label AS cand,
               list_reduce(list_transform(list_zip(e.v, cent.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)
                   AS d2
        FROM e CROSS JOIN cent
    ), assigned AS (
        SELECT true_label, cand,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
        FROM scored
    )
    SELECT true_label, cand AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned WHERE rn = 1 GROUP BY true_label, cand
    """,
    doc="nearest-centroid classification confusion matrix over label "
    "centroids (quantized ordered-fold centroids, sequential distance "
    "folds, lexicographic tie-break) — embedding-quality eval, fully "
    "oracle-checked; centroids ride as broadcast data at scale",
)
def q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # centroid build: same ordered-fold + 6-dp quantization as
    # embedding_label_centroids, over the same bounded hash-ordered
    # sample (≤ _CENT_SAMPLE rows of per-group state); collected to the
    # driver (labels × dim doubles — broadcast-sized control data, like
    # IVF centroids)
    long = _sampled_embeddings(spark, sf_dir).select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    cent_rows = (
        long.groupBy("label", "dim")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("xs"))
        .select(
            "label",
            "dim",
            dround(
                F.aggregate(F.col("xs"), F.lit(0.0), lambda a, e: a + e["v"])
                / F.size("xs"),
                6,
            ).alias("c"),
        )
        .collect()
    )
    by_label: dict[str, dict[int, float]] = {}
    for r in cent_rows:
        by_label.setdefault(r.label, {})[r.dim] = r.c
    labels = sorted(by_label)
    centroids = [
        [by_label[lb][d] for d in sorted(by_label[lb])] for lb in labels
    ]
    assigned = S.with_cluster(
        emb.select(F.col("label").alias("true_label"),
                   F.col("embedding").alias("v")),
        "v",
        centroids,
    )
    label_arr = F.array(*[F.lit(lb) for lb in labels])
    return (
        assigned.select(
            "true_label",
            F.element_at(label_arr, F.col("__c") + 1).alias("assigned_label"),
        )
        .groupBy("true_label", "assigned_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# Mixture rebalancing: sample the corpus DOWN to a target language
# mixture (equal shares here).  Unlike the fixed-rate/quota samplers,
# the per-language keep-rates are computed FROM the data: rate_l =
# min(1, floor(total*weight) / n_l), then applied as the usual
# deterministic hash filter.  Two passes: a tiny count aggregate
# (broadcast back as data), then the map-side filter — the shape of
# "hit the training-mixture spec" jobs at any scale.  All thresholds
# are integer-derived (bucket = floor(rate*10000)) so both engines
# keep exactly the same rows.
# ---------------------------------------------------------------------------
@register(
    "mixture_rebalance_sample",
    f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
    ), tot AS (
        SELECT SUM(n_l) AS n, COUNT(*) AS n_langs FROM counts
    ), rates AS (
        SELECT c.lang,
               LEAST(10000,
                     ((t.n // t.n_langs) * 10000) // c.n_l) AS keep_buckets
        FROM counts c CROSS JOIN tot t
    )
    SELECT d.doc_id, d.lang FROM documents d
    JOIN rates r ON d.lang = r.lang
    WHERE {_BUCKET_SQL.replace('doc_id', 'd.doc_id')} < r.keep_buckets
    """,
    doc="mixture rebalancing: per-language keep-rates computed from the "
    "data to hit an equal-share target mixture, applied as the "
    "deterministic hash filter — count aggregate + map-side filter, "
    "integer-derived thresholds",
)
def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    tot = counts.agg(
        F.sum("n_l").alias("n"), F.count(F.lit(1)).alias("n_langs")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(10000).cast("long"),
            (F.floor(F.col("n") / F.col("n_langs")) * 10000)
            .cast("long")
            / F.col("n_l"),
        )
        .cast("long")
        .alias("keep_buckets"),
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(SA.sample_bucket(F.col("doc_id")) < F.col("keep_buckets"))
        .select("doc_id", "lang")
    )


_PHRASE = ["part", "filter"]


@register(
    "phrase_search_topk",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           w -> w <> '') AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(list_filter(generate_series(1, len(t) - 1),
                    i -> t[i] = '{_PHRASE[0]}'
                         AND t[i+1] = '{_PHRASE[1]}')) AS INT) AS n_matches
        FROM toks
    )
    SELECT doc_id, n_matches FROM m WHERE n_matches > 0
    ORDER BY n_matches DESC, doc_id
    LIMIT 10
    """,
    doc="exact phrase search served from the managed index's "
    "POSITIONAL postings (Lucene position-list shape) at its "
    "full-corpus snapshot: adjacency chains via shifted position-list "
    "intersections over bucket-pruned postings — the corpus text is "
    "never touched at query time; oracle = brute-force adjacency "
    "count over the documents",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    return idx.phrase_search(_PHRASE, k=10, version=v_full)


@register(
    "proximity_search_topk",
    f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           w -> w <> '') AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(list_filter(generate_series(1, len(t)),
                    i -> t[i] = '{_PHRASE[0]}'
                         AND len(list_filter(generate_series(1, len(t)),
                             j -> t[j] = '{_PHRASE[1]}'
                                  AND abs(j - i) <= 3 AND j <> i)) > 0))
                    AS INT) AS n_matches
        FROM toks
    )
    SELECT doc_id, n_matches FROM m WHERE n_matches > 0
    ORDER BY n_matches DESC, doc_id
    LIMIT 10
    """,
    doc="proximity (slop ≤ 3, unordered) search from the managed "
    "index's positional postings at its full-corpus snapshot: counts "
    "occurrences of the first term with the second "
    "within 3 positions — the Lucene slop-query analog completing the "
    "match / BM25 / phrase / proximity search family",
)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, v_full = managed_text_index(spark, sf_dir)
    return idx.proximity_search(
        _PHRASE[0], _PHRASE[1], slop=3, k=10, version=v_full
    )
