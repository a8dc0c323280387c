"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all built on native Spark expressions (JVM-side, codegen)
except SimHash's bit-mixing which uses an Arrow-batched pandas UDF:

- exact:    md5 hash-groupBy — one shuffle on a uniform hash, no skew.
- jaccard:  blocked self-join + exact token-set Jaccard — exact but
            quadratic per block; for modest blocks / verification.
- minhash:  MinHash + LSH banding — the 100 TB path: per-doc signature
            is a narrow map-side computation; candidate generation is a
            self-join on band keys (uniform md5 buckets), so shuffle
            volume is O(docs × bands), not O(docs²).
- simhash:  64-bit SimHash + banded Hamming candidates.

Scale notes: LSH bucket skew (boilerplate docs sharing a band) is the
classic hazard — `max_bucket_size` drops pathological buckets the same
way production dedup pipelines do (they cannot contribute near-dup
*pairs* verification would keep anyway at reasonable thresholds without
quadratic blowup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct `text_col` (lowest id wins).

    Hash-groupBy on md5(text): partial aggregation map-side, single
    shuffle on the 128-bit hash — uniform, skew-free, and the shuffle
    rows carry only (hash, id), not the text payload.  NULL texts are
    not "equal content": they bypass the dedup and survive unchanged
    (md5(NULL) would otherwise collapse them into one bogus group)."""
    nulls = df.filter(F.col(text_col).isNull())
    nn = df.filter(F.col(text_col).isNotNull())
    h = F.md5(F.col(text_col)).alias("__h")
    keep = (
        nn.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return nn.join(keep, id_col, "left_semi").unionByName(nulls)


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical texts (size > 1) with their member ids.
    NULL texts are excluded — absent content is not duplicate content."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_dupes") > 1)
    )


# ---------------------------------------------------------------------------
# Tokenization / shingling (shared by jaccard & minhash)
# ---------------------------------------------------------------------------
def tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """Distinct word k-shingles of an arbitrary token-array column;
    empty array when the document has fewer than k tokens, NULL for a
    NULL token array.

    Positional form with a let binding: ``transform(array(toks), t →
    …)[0]`` evaluates the (possibly expensive) tokenizer expression
    exactly ONCE per row and binds it to ``t``, so the per-position
    lambda can reference it freely — a bare positional ``transform``
    would re-evaluate the tokenizer per element (O(n²·len) per row),
    which is why this used to be a chain of k−1 zip_with'd shifted
    copies instead.  Each position then builds its final k-gram with
    one slice + array_join, where the zip_with chain allocated k−1
    full intermediate arrays of progressively longer strings per row
    (O(n·k²·wordlen) bytes): measured 3.5x faster at k=8, and the
    output is bit-identical (same strings, same first-occurrence
    order into array_distinct; r14 A/B).  Token arrays are assumed
    NULL-element-free (every caller tokenizes via split)."""

    def build(t: Column) -> Column:
        n = F.size(t)
        sh = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
        return (
            F.when(t.isNull(), F.lit(None).cast("array<string>"))
            .when(n >= k, F.array_distinct(sh))
            .otherwise(F.array().cast("array<string>"))
        )

    return F.transform(F.array(toks), build)[0]


def word_shingles(text: Column, k: int = 3) -> Column:
    """`shingles_from_tokens` over the whitespace tokenization."""
    return shingles_from_tokens(tokens(text), k)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two pre-deduplicated string arrays.

    Deliberately NOT |a|+|b|-|a∩b|: deriving the union size from the
    intersection makes array_intersect appear in the CASE guard, the
    pushed join condition AND the projection — Catalyst does not reuse
    subexpressions across those contexts, so the "one array op" form
    measured ~2x SLOWER end-to-end (r14 A/B, OPTIMIZATION_r14.md).
    The independent array_union keeps each array op evaluated once per
    context."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Exact blocked n-gram Jaccard
# ---------------------------------------------------------------------------
def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    shingle_k: int = 1,
) -> DataFrame:
    """All pairs within a block with token-set Jaccard ≥ threshold.

    Exact but O(block²): appropriate when a natural blocking key keeps
    blocks small, or as the verification stage after LSH candidates."""
    sh = word_shingles(F.col(text_col), shingle_k) if shingle_k > 1 else (
        F.array_distinct(tokens(F.col(text_col)))
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), *[F.col(c) for c in block_cols], sh.alias("__sh")
    )
    a = base.select(
        *[F.col(c).alias(f"{c}") for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = base.select(
        *[F.col(c).alias(f"{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("sh_b"),
    )
    if block_cols:
        pairs = a.join(b, block_cols)
    else:
        # no blocking key: full O(n²) cross join — verification-scale only
        pairs = a.crossJoin(b)
    pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def shingle_hashes(shingles: Column) -> Column:
    """One xxhash64 per shingle — the single pass over string payloads;
    every permutation afterwards re-hashes only this 8-byte long."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def minhash_from_hashes(hashes: Column, num_perm: int = 16) -> Column:
    """num_perm minhash values over pre-hashed shingles; permutation i is
    xxhash64(h, i) — full avalanche, overflow-free under ANSI, and ~40×
    cheaper than re-hashing the shingle strings per permutation."""
    def perm_hash(i: int):
        # single-arg lambda: a second parameter would be bound to the
        # array index by Spark's HOF machinery, not to `i`
        return lambda h: F.xxhash64(h, F.lit(i))

    return F.array(
        *[
            F.array_min(F.transform(hashes, perm_hash(i)))
            for i in range(num_perm)
        ]
    )


def minhash_signature(shingles: Column, num_perm: int = 16) -> Column:
    """num_perm minhash values (deterministic across runs and engines'
    partitionings)."""
    return minhash_from_hashes(shingle_hashes(shingles), num_perm)


def portable_hash64(s: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix — bit-identical in
    Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
    (`('0x'||substr(md5(x),1,15))::BIGINT`).  The engine-portable twin
    of xxhash64, used by the oracle-checked dedup variants; ~3× the cost
    of xxhash64, so the fast paths keep xxhash64."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def portable_minhash_signature(shingles: Column, num_perm: int = 16) -> Column:
    """Portable-hash minhash: permutation i hashes the shingle string
    suffixed with '#i'.  One md5 per (shingle, perm) — heavier than the
    two-level xxhash64 scheme but reproducible in any engine with md5."""
    def perm_hash(i: int):
        return lambda s: portable_hash64(F.concat_ws("#", s, F.lit(str(i))))

    return F.array(
        *[
            F.array_min(F.transform(shingles, perm_hash(i)))
            for i in range(num_perm)
        ]
    )


def lsh_band_keys(
    signature: Column,
    bands: int,
    rows_per_band: int,
    portable: bool = True,
) -> Column:
    """bands band-keys, one per signature slice, prefixed/seeded by the
    band index so keys from different bands never collide.

    portable=True (default): md5 hex strings over the '_'-joined slice —
    reproducible in any engine with md5 (the oracle-checked twin's SQL
    replicates them verbatim).  portable=False: a single xxhash64 long
    per band (band index as the leading lane) — the band shuffle then
    carries an 8-byte key instead of a 32-char string, and skips the
    cast-to-string + concat + md5 per row per band.  Key contents differ
    between the two modes but bucket semantics are identical modulo
    hash collisions (~2^-64 per pair)."""
    keys = []
    for b in range(bands):
        parts = [
            signature[b * rows_per_band + j] for j in range(rows_per_band)
        ]
        if portable:
            keys.append(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.lit(str(b)),
                        *[p.cast("string") for p in parts],
                    )
                )
            )
        else:
            keys.append(F.xxhash64(F.lit(b), *parts))
    return F.array(*keys)


def _lsh_band_rows(
    filtered: DataFrame,
    num_perm: int,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(doc, sh: array<long>) → exploded (doc, band: long) rows for the
    FAST (xxhash64) LSH path — one `mapInArrow` numpy kernel replacing
    the interpreted HOF pipeline (guide §4.2, the r14 ANN-kernel
    pattern): ``minhash_from_hashes`` evaluated num_perm interpreted
    ``transform``+``array_min`` passes per row (HOFs are
    CodegenFallback) and ``lsh_band_keys`` re-hashed the slices per
    band — measured 0.46 s of the 1.7 s LSH wall at sf0.1.

    Bit-faithfulness is load-bearing (a different signature changes
    which candidate pairs exist, hence query results): the kernel
    reimplements Spark's XXH64 exactly —
    ``xxhash64(h, lit(i))`` = hashInt(i, hashLong(h, 42)) and
    ``xxhash64(lit(b), s0..s3)`` = hashLong-chain over
    hashInt(b, 42) — with signed array_min semantics (int64 view), all
    pinned bit-for-bit against the expression form by
    tests/test_lsh_kernel.py.  Rows must be pre-filtered to non-null,
    non-empty ``sh`` (the caller's ``size(sh) > 0`` filter — exactly
    the rows the expression path banded).  Helpers are closure-local
    so cloudpickle ships them by value (the external driver's Python
    workers don't have this package on their import path)."""
    doc_type = dict(filtered.dtypes)["doc"]

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        np.seterr(over="ignore")
        u64 = np.uint64
        P1 = u64(0x9E3779B185EBCA87)
        P2 = u64(0xC2B2AE3D27D4EB4F)
        P3 = u64(0x165667B19E3779F9)
        P4 = u64(0x85EBCA77C2B2AE63)
        P5 = u64(0x27D4EB2F165667C5)

        def rotl(x, r):
            r = u64(r)
            return (x << r) | (x >> u64(64 - int(r)))

        def fmix(h):
            h = h ^ (h >> u64(33))
            h = h * P2
            h = h ^ (h >> u64(29))
            h = h * P3
            return h ^ (h >> u64(32))

        def hash_long(x, seed):
            # Spark XXH64.hashLong: one 8-byte block + tail finalize
            h = seed + P5 + u64(8)
            k1 = rotl(x * P2, 31) * P1
            h = h ^ k1
            h = rotl(h, 27) * P1 + P4
            return fmix(h)

        def hash_int(x, seed):
            h = seed + P5 + u64(4)
            h = h ^ ((x & u64(0xFFFFFFFF)) * P1)
            h = rotl(h, 23) * P2 + P3
            return fmix(h)

        SEED = u64(42)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {batch.schema.names[i]: batch.column(i) for i in range(batch.num_columns)}
            sh = cols["sh"]
            lengths = sh.value_lengths().to_numpy(zero_copy_only=False)
            flat = sh.flatten().to_numpy(zero_copy_only=False)
            flat_u = flat.astype(np.int64, copy=False).view(u64)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lengths[:-1], out=starts[1:])
            base = hash_long(flat_u, SEED)  # xxhash64(h) chain prefix
            sig = np.empty((num_perm, n), dtype=np.int64)
            for j in range(num_perm):
                hj = hash_int(u64(j), base).view(np.int64)
                # signed min per row == array_min over long elements
                sig[j] = np.minimum.reduceat(hj, starts)
            band_cols = []
            for b in range(bands):
                h = np.full(n, hash_int(u64(b), SEED), dtype=u64)
                for j in range(rows_per_band):
                    h = hash_long(
                        sig[b * rows_per_band + j].view(u64), h
                    )
                band_cols.append(h.view(np.int64))
            # interleave exactly like explode: row r emits band 0..B-1
            band_out = np.stack(band_cols, axis=1).reshape(-1)
            idx = np.repeat(np.arange(n), bands)
            doc_out = cols["doc"].take(pa.array(idx))
            yield pa.RecordBatch.from_arrays(
                [doc_out, pa.array(band_out, pa.int64())],
                names=["doc", "band"],
            )

    return filtered.select("doc", "sh").mapInArrow(
        kernel, f"doc {doc_type}, band bigint"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash/LSH candidates verified with exact
    shingle Jaccard.  bands=4 × rows=4 over 16 perms ⇒ S-curve threshold
    ≈ (1/4)^(1/4) ≈ 0.71; candidates below `threshold` are discarded by
    the exact verification, so recall — not precision — is the only
    LSH-dependent property.

    Shuffle discipline (the 100 TB story): candidate generation is ONE
    shuffle of (band, doc_id) — a groupBy(band) that gathers each LSH
    bucket, bounds it (`max_bucket_size`, the boilerplate-collision
    guard), and explodes in-bucket ordered pairs — then one (id, id)
    pair-dedup shuffle.  Shingle payloads never shuffle: they live in a
    persisted side table joined back in for the final exact-Jaccard
    verify.  (A band self-join would shuffle both sides and need a
    separate window/aggregate for the bucket guard; gathering the bucket
    makes the guard a free filter and halves the candidate shuffles.)

    Duplication-heavy corpora: the PAIR contract itself is output-bound
    — a verbatim cluster of size c emits O(c²) candidates per band (a
    1000x-replicated fixture prices at ~10^10 rows; SCALE.md), and
    clusters past `max_bucket_size` are silently DROPPED by the guard,
    collapsing recall exactly where duplication is worst.  For such
    corpora use `fuzzy_dedup_clusters` below: exact-collapse first,
    LSH over unique texts, per-doc labels — linear output at any
    duplication factor.
    """
    rows_per_band = num_perm // bands
    # NULL texts can't near-duplicate anything; dropping them up front
    # also prevents every null doc landing in one degenerate LSH bucket.
    # Shingle-less docs (fewer than k tokens) can only ever verify at
    # jaccard 0/0 → 0 < threshold, so skipping them changes no results
    # and keeps them out of a shared degenerate bucket.
    #
    # Fast path persists HASHED shingles (distinct 64-bit longs) instead
    # of shingle strings: the exact-Jaccard verify then intersects long
    # arrays — same set cardinalities modulo xxhash64 collisions (~2^-64
    # per pair), far cheaper to store, join, and intersect than strings.
    # The portable (oracle-checked) twin keeps strings so its Jaccard is
    # bit-identical to the DuckDB SQL.
    # Persist BEFORE the shingle-less filter: a filter on the computed
    # column would be pushed below the projection inside the cache
    # build, making the cache-materialization pass evaluate the whole
    # shingle expression TWICE per row (once for the pushed size()
    # predicate, once for the projected column — the guide §4.4
    # duplicated-evaluation shape, with native expressions).  Caching
    # the unfiltered projection evaluates it once; the handful of
    # shingle-less docs ride the cache but can never produce a band or
    # a candidate, so every downstream result is unchanged.
    raw = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    if portable:
        sh_tbl = raw.persist()
        signed = sh_tbl.filter(F.size("sh") > 0).withColumn(
            "sig", portable_minhash_signature(F.col("sh"), num_perm)
        )
        banded = signed.select(
            "doc",
            F.explode(
                lsh_band_keys(
                    F.col("sig"), bands, rows_per_band, portable=True
                )
            ).alias("band"),
        )
    else:
        sh_tbl = raw.select(
            "doc", F.array_distinct(shingle_hashes(F.col("sh"))).alias("sh")
        ).persist()
        # signatures + band keys in one Arrow/numpy kernel — bit-equal
        # to explode(lsh_band_keys(minhash_from_hashes(sh))), see
        # _lsh_band_rows (the expression form stays for the portable
        # twin above, whose md5 hashing the oracle replicates)
        banded = _lsh_band_rows(
            sh_tbl.filter(F.size("sh") > 0), num_perm, bands, rows_per_band
        )
    buckets = banded.groupBy("band").agg(
        F.sort_array(F.collect_list("doc")).alias("ds")
    ).filter(F.size("ds") > 1)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket_size)
    ds = F.col("ds")
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ds,
                        lambda x, i: F.transform(
                            F.slice(ds, i + 2, F.size(ds)),
                            lambda y: F.struct(
                                x.alias("id_a"), y.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.join(
            sh_tbl.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh_tbl.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from pre-hashed tokens: per-bit signed majority
    vote, recombine.  Expressed as 64 aggregate lanes over the hash
    array — stays in codegen, no Python.  Callers should materialize the
    hash array as its own column first so the 64 lanes share one token
    hashing pass instead of embedding it 64×."""
    def bit_vote(i: int):
        # closure factory: keep the merge lambda strictly 2-arg (see
        # minhash_signature note)
        return lambda acc, h: acc + F.when(
            F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for i in range(64):
        # vote_i = Σ tokens (bit_i ? +1 : -1)  > 0
        vote = F.aggregate(hashes, F.lit(0), bit_vote(i))
        # bit 63 is the sign bit: 2**63 overflows a signed long
        bit_val = 2**i if i < 63 else -(2**63)
        bits.append(
            F.when(vote > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def token_hashes(text: Column) -> Column:
    return F.transform(
        F.array_distinct(tokens(text)), lambda t: F.xxhash64(t)
    )


def portable_token_hashes(text: Column) -> Column:
    """Distinct-token 60-bit portable hashes (oracle-checked simhash)."""
    return F.transform(
        F.array_distinct(tokens(text)), lambda t: portable_hash64(t)
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.  Candidates via
    4×16-bit band keys (a pair within Hamming ≤ 3 of each other shares at
    least one exact band; wider radii trade recall), verified with exact
    bit_count(xor)."""
    th = portable_token_hashes if portable else token_hashes
    sh = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"),
            th(F.col(text_col)).alias("hh"),
        )
        .select("doc", simhash_from_hashes(F.col("hh")).alias("sim"))
        .persist()
    )
    bands = sh.select(
        "doc",
        "sim",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.shiftrightunsigned(F.col("sim"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    )
    a = bands.select("band", F.col("doc").alias("id_a"), F.col("sim").alias("sim_a"))
    b = bands.select("band", F.col("doc").alias("id_b"), F.col("sim").alias("sim_b"))
    return (
        a.join(b, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------
def fuzzy_dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Production fuzzy dedup — the pipeline order C4/RefinedWeb-style
    curation actually uses: EXACT-collapse verbatim copies first, run
    MinHash/LSH only on the unique texts, label clusters by connected
    components, then every document inherits its representative's label
    (a linear join).  Returns (id, cluster) for every input row; docs
    with NULL text are their own singleton clusters.

    Why this shape is the 100 TB one (measured, SCALE.md): feeding a
    duplication-heavy corpus straight into LSH pair materialization is
    OUTPUT-bound — each verbatim cluster of size c lands intact in one
    bucket per band and emits O(c²) candidate pairs (at the 1000x
    verbatim smoke that is ~10^10 pair rows: the candidate-dedup shuffle
    filled local disk).  Collapsing first makes the LSH input the unique
    text set — for a corpus that grew only by duplication, pair work
    collapses back to the 1x cost — while the OUTPUT stays one row per
    document, linear at any duplication factor.  Labels equal connected
    components over (exact-duplicate edges ∪ direct LSH pairs) — pinned
    by a property test: verbatim copies share every shingle, hence every
    signature, bucket, and verified neighbor, so collapsing them onto
    one representative preserves LSH components, and min-id labels agree
    because each group's representative IS its min id.  The exact edges
    make collapse STRICTLY stronger than raw LSH in one corner: identical
    docs with fewer than `shingle_k` tokens have no shingles, so banding
    alone can never link them, but exact-collapse does.  Shuffle
    discipline: the collapse groupBy and the label-inherit
    joins carry only (64-bit hash, id) longs — text payloads reach at
    most the representative semi-join (at a real 100 TB ingest the
    exact-deduped corpus is materialized once by the curation pass and
    LSH reads that table instead).
    """
    with_text = df.filter(F.col(text_col).isNotNull())
    ids = with_text.select(
        F.col(id_col), F.xxhash64(F.col(text_col)).alias("__chash")
    )
    reps = ids.groupBy("__chash").agg(F.min(id_col).alias("__rep"))
    rep_ids = reps.select(F.col("__rep").alias(id_col))
    rep_docs = with_text.join(rep_ids, id_col, "left_semi")
    pairs = minhash_lsh_pairs(
        rep_docs,
        id_col,
        text_col,
        threshold=threshold,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
        portable=portable,
    )
    comp = connected_components(
        rep_ids, pairs, id_col=id_col, src_col="id_a", dst_col="id_b"
    )
    doc_rep = ids.join(reps, "__chash").select(F.col(id_col), F.col("__rep"))
    labeled = doc_rep.join(
        comp.select(F.col(id_col).alias("__rep"), "cluster"), "__rep"
    ).select(F.col(id_col), F.col("cluster"))
    nulls = df.filter(F.col(text_col).isNull()).select(
        F.col(id_col), F.col(id_col).alias("cluster")
    )
    return labeled.unionByName(nulls)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Label every node with the MIN node id of its connected component —
    the transitive closure that turns pairwise near-dup hits into dedup
    clusters (keep one doc per cluster).

    Iterative min-label propagation: each round, a node adopts the
    smallest label among itself and its neighbors; fixpoint after
    O(component diameter) rounds.  Near-dup graphs are overwhelmingly
    tiny cliques/chains, so convergence is fast regardless of corpus
    size.

    Iteration discipline: one join on node id (labels × symmetric
    edges) + one groupBy min — both shuffle only (id, label) longs;
    `localCheckpoint` truncates the lineage each round so the plan
    doesn't grow with iterations (the classic iterative-Spark trap),
    and convergence rides the SAME materialization job as an
    ``observe`` metric (r15 — one job per round; the previous separate
    changed-labels count job re-scanned the checkpoint).  A
    persist()-co-partitioned variant (cache both sides hash(key, P) so
    the per-round joins plan exchange-free) was A/B'd r15 and measured
    ~1 s WORSE on dedup_fuzzy_clusters_fast: the extra up-front
    exchange of the LSH edge pipeline's output plus columnar
    cache encode cost more than the per-round exchanges they remove at
    these state sizes — reverted, rationale pinned here.
    """
    from pyspark.sql import Observation

    sym = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).unionByName(
        edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
    )
    # materialize the edge set ONCE: `edges` is typically the whole
    # LSH candidate pipeline, and without this every iteration's eager
    # checkpoint re-executed that plan from scratch — the loop cost was
    # O(iterations x LSH) instead of O(LSH + iterations x tiny-join)
    sym = sym.localCheckpoint(eager=True)
    labels = nodes.select(F.col(id_col).alias("n"), F.col(id_col).alias("lbl"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        neighbor_min = (
            labels.join(sym, labels["n"] == sym["s"])
            .groupBy("d")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # auto-named: a fixed name could collide when the loop runs
        # twice in one session (bench reps)
        obs = Observation()
        updated = (
            labels.join(neighbor_min, labels["n"] == neighbor_min["d"], "left")
            .select(
                "n",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.col("nlbl") < F.col("lbl")).alias("__changed"),
            )
            # the convergence counter rides the checkpoint
            # materialization job (count_if counts TRUE only, exactly
            # the rows the old filter().count() kept — NULL __changed
            # means "no neighbor", not a change)
            .observe(obs, F.count_if(F.col("__changed")).alias("changed"))
        )
        updated = updated.localCheckpoint(eager=True)
        changed = obs.get["changed"]
        labels = updated.drop("__changed")
        if changed == 0:
            break
    return labels.select(F.col("n").alias(id_col), F.col("lbl").alias("cluster"))


# ---------------------------------------------------------------------------
# Chunk-level (paragraph) dedup — the C4/RefinedWeb span-removal pattern
# ---------------------------------------------------------------------------
def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 4,
) -> DataFrame:
    """Remove duplicated word-chunks ACROSS documents, keeping the first
    occurrence (lowest (id, chunk_idx)), and reassemble the surviving
    chunks into a cleaned text per document — sub-document dedup in the
    style of C4's duplicate-span removal, where boilerplate repeated
    across pages is stripped while each document's unique prose survives.

    Plan shape (all native expressions, no per-word explode):
      1. map-side: `split` once, then one row per chunk via
         `explode(sequence(...))` + `slice` — chunking is O(words) and
         never shuffles single words;
      2. first-occurrence election: `row_number` over the 60-bit
         portable hash of the chunk (uniform, skew-free key), ordered by
         (id, chunk_idx) — one shuffle;
      3. reassembly: groupBy(id) re-joining surviving chunks in order —
         second shuffle, partitioned by doc id.
    At 100 TB the election shuffle can carry (hash, id, idx) only and
    semi-join winners back to map-side re-derived chunks; here chunks
    ride along because two narrow shuffles beat three.

    Output: (id, n_chunks, n_kept, cleaned_text); documents whose every
    chunk was seen earlier survive with n_kept=0 and empty text.
    (Generalizes exact_dedup from whole-document to sub-document
    granularity; no reference analog — north-star operator.)
    """
    from pyspark.sql import Window

    cw = int(chunk_words)
    d = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    ).withColumn(
        "n_chunks", F.expr(f"CAST((size(words)-1) div {cw} + 1 AS BIGINT)")
    )
    ch = d.select(
        id_col,
        "n_chunks",
        F.explode(F.expr(f"sequence(0, int((size(words)-1) div {cw}))")).alias(
            "ci"
        ),
        F.col("words"),
    ).select(
        id_col,
        "n_chunks",
        "ci",
        F.array_join(F.expr(f"slice(words, ci*{cw}+1, {cw})"), " ").alias(
            "chunk"
        ),
    )
    win = Window.partitionBy(portable_hash64(F.col("chunk"))).orderBy(
        id_col, "ci"
    )
    kept = (
        ch.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ci", "chunk"))),
                    lambda x: x["chunk"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )
    return (
        d.select(id_col, "n_chunks")
        .join(kept, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------
def ngram_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Test-set decontamination by exact n-gram overlap — the
    GPT-3/PaLM training-data hygiene pass: a training document is
    contaminated when it shares at least one word n-gram with any
    benchmark/eval document.  Returns one row per contaminated train
    doc: (id_col, shared_ngrams) where shared_ngrams counts the
    DISTINCT n-grams of that doc also present anywhere in the
    benchmark set (the usual flag-or-scrub signal; the caller
    anti-joins to drop, or thresholds for partial-overlap policies).

    Scale posture: eval sets are tiny next to a 100 TB corpus, so the
    benchmark's distinct n-gram set broadcasts and the train side is
    one map-side shingle explode + broadcast-hash semi-join + partial
    count — the only shuffled rows are (id, partial count) pairs, and
    document text never enters an exchange.  For benchmark sets too
    big to broadcast, swap the join key to xxhash64(n-gram) and let
    AQE pick the shuffle join; counts are identical absent 64-bit
    collisions.  Docs shorter than n tokens produce no n-grams and
    cannot be flagged (matching the published methodology).

    Complement of `corpus.cross_split_contamination`, which flags the
    opposite direction (eval docs overlapping the training corpus)
    with the opposite scale posture (both sides corpus-sized, so the
    grams meet in one shuffle on hashed longs instead of a
    broadcast)."""
    ne = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(shingles_from_tokens(ne, n)).alias("__g"),
        )

    bgrams = grams(bench).select("__g").distinct()
    return (
        grams(train)
        .join(F.broadcast(bgrams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("shared_ngrams"))
    )
