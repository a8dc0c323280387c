"""Shared scoring kernels of the full-text index.

`managed_text.ManagedTextIndex` is the package's one text index: it
owns the postings (a `ManifestSnapshotTable` of term-hash-bucketed
positional postings), their lifecycle (pruned MERGE appends,
deletion-vector erasure, compaction) and the query surface.  This
module holds only the pure DataFrame kernels those queries are built
from, so that every ranking is one expression in one place:

- `bm25_fixed_point` — per-(doc, term) BM25 at 1e-4 fixed point;
- `collapse_from_scores` — ES field collapsing over a score aggregate;
- `phrase_scores` / `proximity_scores` — position-list matching;
- `rrf_fuse` / `rrf_fuse_grouped` — reciprocal-rank fusion;
- `auto_fuzziness` — the ES ``fuzziness: AUTO`` edit budget;
- `suggest_terms` — prefix completion over the first-char-partitioned
  dictionary that `ManagedTextIndex.materialize_dictionary` freezes.

`N_BUCKETS` is the default term-hash bucket count of the postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_BUCKETS = 64


def bm25_fixed_point(
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """The shared per-(doc, term) BM25 scoring kernel: df(t) from a
    term window over the (already pruned) postings, idf at integer
    (N, df) points, 1e-4 fixed-point floor.  Every BM25 serving path
    — single query, msearch, MLT, fuzzy, collapse, search_after —
    goes through THIS function, so their scores are bit-identical by
    construction.
    Returns (id_col, term, s_fp)."""
    wdf = Window.partitionBy("term")
    df_t = F.count(F.lit(1)).over(wdf).cast("double")
    idf = F.log(
        (F.lit(float(n_docs)) - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        + F.lit(1.0)
    )
    tf = F.col("tf").cast("double")
    norm = tf * F.lit(k1 + 1.0) / (
        tf
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
        )
    )
    return postings.select(
        F.col(id_col),
        F.col("term"),
        F.floor(idf * norm * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("s_fp"),
    )


def collapse_from_scores(
    agg: DataFrame,
    docs: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    inner_k: int,
) -> DataFrame:
    """The collapse kernel over an (id, s) fixed-point score aggregate
    — `ManagedTextIndex.collapse` ranks through it, so collapsed
    scores equal the uncollapsed BM25 ranking's."""
    hits = agg.join(
        docs.select(F.col(id_col), F.col(group_col)), id_col
    )
    wg = Window.partitionBy(group_col).orderBy(
        F.col("s").desc(), F.col(id_col)
    )
    inner = hits.select(
        group_col,
        id_col,
        "s",
        F.row_number().over(wg).cast("int").alias("hit_rank"),
    ).filter(F.col("hit_rank") <= inner_k)
    best = inner.filter(F.col("hit_rank") == 1).select(
        F.col(group_col).alias("__g"), F.col("s").alias("__top")
    )
    top_groups = (
        best.orderBy(F.col("__top").desc(), F.col("__g")).limit(k)
    )
    return (
        inner.join(
            F.broadcast(top_groups),
            inner[group_col] == top_groups["__g"],
        )
        .orderBy(
            F.col("__top").desc(),
            F.col("__g"),
            F.col("hit_rank"),
        )
        .select(
            group_col,
            id_col,
            (F.col("s") / F.lit(10000.0)).alias("bm25"),
            "hit_rank",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
    weights: list[float] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion — the ES 8 hybrid-search combiner: each
    input is a ranked candidate list carrying (id_col, rank) with
    1-based ranks; the fused score is Σ wᵢ/(c + rankᵢ) over the lists
    that contain the id (missing contributes 0), ranked desc with ties
    to the smaller id.  ``weights`` (default all-1.0) is the ES 8.16
    weighted-RRF retriever knob for biasing one leg (e.g. lexical 1.0
    vs semantic 1.5) without score calibration.  Rank-based (never
    score-based), so BM25's unbounded scores and cosine's [-1, 1] fuse
    without calibration — the reason ES picked RRF.  Inputs are top-k
    lists (k rows each) by construction, so the full-outer join is
    trivially small however large the corpus that produced them."""
    if not rankings:
        raise ValueError("need at least one ranked list")
    if weights is not None and len(weights) != len(rankings):
        raise ValueError("need one weight per ranked list")
    fused = None
    for i, r in enumerate(rankings):
        w = 1.0 if weights is None else float(weights[i])
        side = r.select(
            F.col(id_col),
            (
                F.lit(w)
                / (F.lit(float(c)) + F.col("rank").cast("double"))
            ).alias(f"__s{i}"),
        )
        fused = side if fused is None else fused.join(
            side, id_col, "full_outer"
        )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        score = term if score is None else score + term
    return (
        fused.select(id_col, score.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
    )


def auto_fuzziness(term: str) -> int:
    """ES ``fuzziness: AUTO``: 0 edits for terms of length 1-2, 1 for
    3-5, 2 for 6+ (the published Elasticsearch AUTO:3,6 default)."""
    n = len(term)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def rrf_fuse_grouped(
    rankings: list[DataFrame],
    group_col: str = "q_id",
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Batched reciprocal-rank fusion: `rrf_fuse` per group in one
    plan — the ES 8 msearch-with-rrf-retrievers shape.  Each input
    carries (group_col, id_col, rank) with 1-based ranks WITHIN its
    group (a batched BM25 msearch, a batched ANN knn_join); the fused
    score is Σ 1/(c + rank) per (group, id), topped to k per group
    (ties to the smaller id).  Inputs are per-group top-k lists, so
    the full-outer join and the per-group window both run over
    n_groups × k rows — batch-size-bounded, corpus-independent."""
    if not rankings:
        raise ValueError("need at least one ranked list")
    fused = None
    for i, r in enumerate(rankings):
        side = r.select(
            F.col(group_col),
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(float(c)) + F.col("rank").cast("double"))
            ).alias(f"__s{i}"),
        )
        fused = side if fused is None else fused.join(
            side, [group_col, id_col], "full_outer"
        )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        score = term if score is None else score + term
    scored = fused.select(group_col, id_col, score.alias("rrf"))
    wg = Window.partitionBy(group_col).orderBy(
        F.col("rrf").desc(), F.col(id_col)
    )
    return (
        scored.select(
            group_col,
            id_col,
            "rrf",
            F.row_number().over(wg).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .orderBy(group_col, "rank")
    )


def suggest_terms(
    spark: SparkSession,
    path: str,
    prefix: str,
    k: int = 10,
) -> DataFrame:
    """Prefix completion ranked by document frequency (ties to the
    lexicographically smaller term) — ES's completion suggester served
    from the first-char-partitioned dictionary that
    `ManagedTextIndex.materialize_dictionary` writes: the scan lists ONE
    partition directory, the prefix filter prunes inside it, and the
    result is a k-row TakeOrdered.  Per-query cost is O(terms sharing
    the first character), independent of corpus size.  The prefix is
    lowercased to match the analyzer (terms are lowercase tokens)."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    prefix = prefix.lower()
    # cast the partition column: hive partition-type INFERENCE types
    # __c1 as int on an all-numeric-first-char dictionary, and an
    # int-vs-string comparison would miss (the filter still prunes —
    # Spark pushes the casted equality into partition pruning)
    d = spark.read.parquet(path).filter(
        F.col("__c1").cast("string") == prefix[0]
    )
    return (
        d.filter(F.col("term").startswith(prefix))
        .select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(k)
    )


def phrase_scores(
    postings: DataFrame, phrase: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Position-list phrase kernel behind `ManagedTextIndex.phrase_search`:
    given positional postings (id_col, term, positions) already
    restricted to the phrase's terms, join the terms' position lists
    per doc and count adjacency chains — term i+1's list intersected
    with term i's positions shifted by one.
    Returns (id_col, n_matches) for docs with ≥1 match, unranked."""
    joined = None
    for i, t in enumerate(phrase):
        side = postings.filter(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias(f"p{i}")
        )
        joined = side if joined is None else joined.join(side, id_col)
    # chain positions: start positions whose +1, +2, ... all match
    chain = F.col("p0")
    for i in range(1, len(phrase)):
        chain = F.array_intersect(
            F.transform(chain, lambda x: x + i),  # noqa: B023
            F.col(f"p{i}"),
        )
        chain = F.transform(chain, lambda x, i=i: x - i)
    return joined.select(
        id_col, F.size(chain).cast("int").alias("n_matches")
    ).filter(F.col("n_matches") > 0)


def proximity_scores(
    postings: DataFrame,
    term_a: str,
    term_b: str,
    slop: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Unordered-proximity kernel over positional postings (the
    `phrase_scores` sibling): count positions of `term_a` with `term_b`
    within ±`slop` — a nested array expression over the two (small)
    position lists.  Returns (id_col, n_matches), matches only."""
    a = postings.filter(F.col("term") == term_a).select(
        F.col(id_col), F.col("positions").alias("pa")
    )
    b = postings.filter(F.col("term") == term_b).select(
        F.col(id_col), F.col("positions").alias("pb")
    )
    joined = a.join(b, id_col)
    near = F.size(
        F.filter(
            F.col("pa"),
            lambda i: F.exists(
                F.col("pb"),
                lambda j: (F.abs(j - i) <= F.lit(slop)) & (j != i),
            ),
        )
    )
    return joined.select(
        id_col, near.cast("int").alias("n_matches")
    ).filter(F.col("n_matches") > 0)
