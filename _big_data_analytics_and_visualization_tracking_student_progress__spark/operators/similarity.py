"""Similarity search over embedding columns (array<float>).

Two tiers:
- brute-force cosine top-k: exact; native higher-order functions
  (zip_with + aggregate) keep the arithmetic JVM-side; top-k compiles to
  TakeOrderedAndProject (per-partition heaps, no global sort).
- LSH-bucketed ANN (random hyperplane signatures): the scale path — the
  corpus is scanned once to stamp signatures; a query probes only its
  bucket (and optional 1-bit-flip neighbor buckets).  At 100 TB the
  signature column is computed once at ingest and the bucketed table is
  the index.

Hyperplanes are generated from a fixed seed on the driver and embedded
as literals (tiny: n_planes × dim floats), so plans are deterministic
and require no state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def _lit_vec(vec: list[float]) -> Column:
    # one SQL-parsed literal (see double_array_sql) instead of len(vec)
    # py4j Column constructions — same exact doubles, ~dim× less
    # driver-side plan-build overhead per query vector
    return F.expr(double_array_sql(vec))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    One scan, no shuffle except the k-row TakeOrdered collect.  The
    double arithmetic is sequential left-fold per row → deterministic
    and engine-portable bit-for-bit."""
    q = _lit_vec(query_vec)
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col).cast("array<double>"), q).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN of each query row against the corpus: broadcast the
    (small) query side, score in one corpus scan, keep top-k per query
    with a window.  Shuffle volume = corpus × |queries| scored rows →
    only viable for modest query batches; the ANN path below is the
    scale alternative."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(q_id), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    c = corpus.select(
        F.col(c_id), F.col(vec_col).cast("array<double>").alias("c_vec")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        q_id,
        c_id,
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cos_sim").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (signed random projections)
# ---------------------------------------------------------------------------
def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def rh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-signature: bit i = sign(vec · plane_i)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot(vec, _lit_vec(p)) > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(bit)
    return sig


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cluster-probed
# brute force — the other classic scale path beside hyperplane LSH.
# ---------------------------------------------------------------------------
def _sq_dist(v: Column, lit_c: Column) -> Column:
    return F.aggregate(
        F.zip_with(v, lit_c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _staging_col(df: DataFrame, base: str) -> str:
    """A staging-column name absent from df.columns: broadcast-data
    helpers (`with_cluster`, `pq_encode`) cross-join a one-row frame and
    later drop its column — a user column with the same name would make
    the select ambiguous or get silently dropped."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def _np_kernels():
    """Closure-local numpy helpers for the Arrow ANN kernels.  Defined
    NESTED (and captured by the mapInArrow functions as closure cells,
    not module globals) so cloudpickle ships them BY VALUE: the Python
    workers of the external driver contract do not have this package on
    their import path, and a module-level reference would die with
    ModuleNotFoundError at deserialization."""
    import numpy as np

    def list_batch_views(col):
        # (starts, lengths, list_null, values_f64, cum_null) numpy
        # views of one Arrow list<float64> column — the exact
        # per-row/per-element NULL information a bit-faithful kernel
        # needs (a pandas round trip folds NULL elements into NaN,
        # which have DIFFERENT engine semantics).  cum_null[i] = null
        # elements among values[0:i), so any-null over a range is two
        # lookups.
        n = len(col)
        if col.null_count:
            list_null = col.is_null().to_numpy(zero_copy_only=False)
        else:
            list_null = np.zeros(n, dtype=bool)
        offs = col.offsets.to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        starts, ends = offs[:-1], offs[1:]
        lengths = ends - starts
        values = col.values
        vals = values.to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False
        )
        if values.null_count:
            vnull = values.is_null().to_numpy(zero_copy_only=False)
            cum_null = np.concatenate(
                ([0], np.cumsum(vnull.astype(np.int64)))
            )
        else:
            cum_null = None
        return starts, lengths, list_null, vals, cum_null

    def range_has_null(cum_null, lo, hi):
        if cum_null is None:
            return np.zeros(len(lo), dtype=bool)
        return (cum_null[hi] - cum_null[lo]) > 0

    def fold_sq_dists(x, cents):
        # Squared distances of row block x (n×dim) to every centroid,
        # accumulated PER DIMENSION IN ORDER — the identical left fold
        # (((0 + t0²) + t1²) + …) as the engine-side _sq_dist
        # (zip_with + aggregate), so every double is bit-equal to the
        # expression form and argmin ties resolve identically.
        # numpy's pairwise-summing .sum()/einsum would differ by ulps
        # — do not "optimize" this loop into one.
        k = len(cents)
        d = np.empty((k, x.shape[0]), dtype=np.float64)
        # IEEE overflow/NaN are legal values here (they propagate the
        # same as in the engine expression) — silence the warnings only
        with np.errstate(over="ignore", invalid="ignore"):
            for ci in range(k):
                c = cents[ci]
                acc = np.zeros(x.shape[0], dtype=np.float64)
                for j in range(x.shape[1]):
                    t = x[:, j] - c[j]
                    acc = acc + t * t
                d[ci] = acc
        return d

    return list_batch_views, range_has_null, fold_sq_dists


def with_cluster(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "__c",
) -> DataFrame:
    """Stamp each row with the argmin-squared-distance centroid index.

    Implemented as ONE Arrow kernel (`mapInArrow`): the k×dim distance
    fold runs vectorized in numpy over whole record batches instead of
    interpreted per element — the zip_with/aggregate HOF expression
    this replaces is CodegenFallback, ~µs per (row, centroid, dim),
    and dominated every IVF query's wall (guide §4.2).  Bit-faithful
    to the expression form: per-dimension sequential fold (same IEEE
    association), argmin ties to the LOWER index (numpy first-min ==
    array_min's lexicographic struct order), and the expression's edge
    semantics are reproduced exactly — a NULL vector, ragged length,
    or NULL element yields distance NULL for every centroid and the
    struct-min then falls to index 0; an all-NaN row ties to 0 the
    same way (pinned by tests against the expression form).  No UDF
    pickling per row, no shuffle; centroids ride the task closure."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)
    _k, dim = cents.shape
    list_batch_views, range_has_null, fold_sq_dists = _np_kernels()
    dtypes = dict(df.dtypes)
    staged = dtypes.get(vec_col) != "array<double>"
    vsrc = _staging_col(df, "__v64") if staged else vec_col
    base = (
        df.withColumn(vsrc, F.col(vec_col).cast("array<double>"))
        if staged
        else df
    )
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )
    out_names = [f.name for f in df.schema.fields] + [out_col]

    def assign(batches):
        for b in batches:
            idx = b.schema.get_field_index(vsrc)
            col = b.column(idx)
            n = b.num_rows
            cells = np.zeros(n, dtype=np.int32)
            if n:
                starts, lengths, lnull, vals, cnull = list_batch_views(
                    col
                )
                clean = (~lnull) & (lengths == dim)
                if clean.any():
                    lo = starts[clean]
                    bad = range_has_null(cnull, lo, lo + dim)
                    if bad.any():
                        sel = np.flatnonzero(clean)[~bad]
                        clean = np.zeros(n, dtype=bool)
                        clean[sel] = True
                        lo = starts[clean]
                    if lo.size:
                        x = vals[lo[:, None] + np.arange(dim)]
                        d = fold_sq_dists(x, cents)
                        cells[clean] = np.argmin(d, axis=0).astype(
                            np.int32
                        )
            if staged:
                keep = [
                    b.column(i)
                    for i, f in enumerate(b.schema)
                    if f.name != vsrc
                ]
            else:
                keep = [b.column(i) for i in range(b.num_columns)]
            yield pa.RecordBatch.from_arrays(
                keep + [pa.array(cells, type=pa.int32())],
                names=out_names,
            )

    return base.mapInArrow(assign, out_schema)


def train_ivf_centroids_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 16,
    iters: int = 10,
    sample_size: int = 4096,
) -> list[list[float]]:
    """Train the coarse quantizer on a bounded, deterministic sample —
    THE 100 TB recipe (FAISS/ScaNN posture): the quantizer only ever
    sees O(k × 100s) vectors, so training is one corpus scan (TakeOrdered
    on a seeded hash — per-partition heaps, no shuffle of vectors beyond
    `sample_size` rows) and Lloyd iterations run driver-side in numpy on
    the sample."""
    rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.col(id_col).alias("__i"),
        )
        .orderBy(F.xxhash64(F.col("__i").cast("string")))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    return _lloyd(x, k, iters)


def _lloyd(x: np.ndarray, k: int, iters: int) -> list[list[float]]:
    """Driver-side Lloyd iterations over a bounded sample.  Shared by the
    Spark-side trainer and the DuckDB-oracle generator so both produce
    bit-identical centroids from the same sample."""
    k = min(k, len(x))
    cent = x[:k].copy()  # first k in hash order: seeded, restart-stable
    for _ in range(iters):
        # (n, k) squared distances; argmin ties break to the lower index
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cent]


def _portable_hash_py(key) -> int:
    """Pure-Python twin of operators.dedup.portable_hash64 (md5-prefix
    60-bit hash) — used to replicate the Spark sample order engine-side
    free (no SparkSession) when generating data-dependent oracles."""
    import hashlib

    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)


def train_ivf_centroids_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 10,
    sample_size: int = 256,
) -> list[list[float]]:
    """`train_ivf_centroids_sample` with an engine-portable sample order:
    rows are drawn in md5-prefix-hash order of the id (portable_hash64),
    so a DuckDB/pyarrow reader of the same parquet can reproduce the
    exact sample — and therefore, via the shared `_lloyd`, the exact
    centroids — without Spark.  This is what lets the registered IVF
    query be fully oracle-checked instead of rows-only."""
    from .dedup import portable_hash64

    rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.col(id_col).alias("__i"),
        )
        .orderBy(portable_hash64(F.col("__i").cast("string")))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    return _lloyd(x, k, iters)


def train_ivf_centroids_rows(
    rows: list[tuple],
    k: int = 8,
    iters: int = 10,
    sample_size: int = 256,
) -> list[list[float]]:
    """Oracle-side twin of `train_ivf_centroids_portable`: same hash
    order, same sample bound, same `_lloyd` — over (id, vector) tuples
    read outside Spark (e.g. DuckDB over the same parquet)."""
    ordered = sorted(rows, key=lambda r: _portable_hash_py(r[0]))[:sample_size]
    x = np.asarray([[float(v) for v in r[1]] for r in ordered], dtype=np.float64)
    return _lloyd(x, k, iters)


def nearest_clusters(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Driver-side probe selection: the centroid table is tiny, so the
    nprobe nearest clusters are picked in numpy and pushed into the plan
    as an IN-list filter (partition-prunable on an ingest-stamped
    layout)."""
    q = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(
        [float(((q - np.asarray(c)) ** 2).sum()) for c in centroids]
    )
    return [int(i) for i in order[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: probe the nprobe clusters nearest the query and
    brute-force only inside them.

    ≤2 corpus passes total: pass 1 draws the bounded training sample
    (skipped entirely when a pre-trained `centroids` list is supplied —
    the production path, where the quantizer is trained once offline);
    pass 2 stamps cluster ids and scores only `__c IN probes` rows.  The
    cell-partitioned `ManagedIvfIndex` replaces pass 2's full scan with
    manifest-pruned reads of nprobe/n_centroids of the files."""
    if centroids is None:
        centroids = train_ivf_centroids_sample(
            df, vec_col, id_col, k=n_centroids, iters=iters
        )
    probe = nearest_clusters(centroids, query_vec, nprobe)
    candidates = with_cluster(df, vec_col, centroids).filter(
        F.col("__c").isin(probe)
    ).drop("__c")
    return cosine_topk(candidates, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def ann_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_flips: int = 1,
) -> DataFrame:
    """LSH-bucketed k-NN JOIN — the scale path for batch ANN lookups.

    Both sides are stamped with the same seeded hyperplane signature;
    the query side explodes its multi-probe neighborhood (own signature
    + every ≤`probe_flips`-bit flip), and candidates come from an
    equi-join on the probe key.  Shuffle volume is O(|corpus| +
    |queries|·probes) keyed rows — vs `knn_join`'s |corpus|×|queries|
    scored rows — and when the exploded query side is small Spark
    broadcasts it, so the corpus never shuffles at all.  Exact cosine +
    per-query top-k window inside the matched buckets; approximate in
    recall only (missed buckets), never in precision."""
    from pyspark.sql import Window

    dim = len(queries.select(vec_col).head()[0])
    planes = hyperplanes(dim, n_planes)

    c = corpus.select(
        F.col(c_id), F.col(vec_col).cast("array<double>").alias("c_vec")
    ).withColumn("bkt", rh_signature(F.col("c_vec"), planes))

    q = queries.select(
        F.col(q_id), F.col(vec_col).cast("array<double>").alias("q_vec")
    ).withColumn("sig", rh_signature(F.col("q_vec"), planes))
    probe_cols = [F.col("sig")]
    if probe_flips >= 1:
        probe_cols += [
            F.col("sig").bitwiseXOR(F.lit(2**i)) for i in range(n_planes)
        ]
    # probe keys are distinct by construction ⇒ the join emits each
    # (query, candidate) pair at most once, no dedup shuffle needed
    probed = q.select(
        q_id, "q_vec", F.explode(F.array(*probe_cols)).alias("bkt")
    )

    w = Window.partitionBy(q_id).orderBy(F.col("cos_sim").desc(), F.col(c_id))
    return (
        c.join(probed, "bkt")
        .select(
            q_id,
            c_id,
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "cos_sim", "rank")
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, code_i
    = clamp(floor(x_i/scale + 0.5), ±127).  4× smaller storage/shuffle
    footprint for ANN candidate stages; scoring dequantizes as
    code_i·scale.  FLOOR(x+0.5) rounding (not round()) keeps the codes
    engine-portable — round() half-case behavior differs across engines.
    Zero vectors (scale 0) pass through with NULL codes."""
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(
        F.transform(F.col("__v"), lambda x: F.abs(x))
    ) / F.lit(127.0)
    code = F.transform(
        F.col("__v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / F.col("__scale") + F.lit(0.5))),
        ).cast("int"),
    )
    return (
        df.select(F.col(id_col), v.alias("__v"))
        .withColumn("__scale", scale)
        .select(
            id_col,
            F.col("__scale").alias("scale"),
            F.when(F.col("__scale") > 0, code).alias("codes"),
            "__v",
        )
    )


def dequantized(codes: Column, scale: Column) -> Column:
    """Reconstruct the double vector from int8 codes + scale."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


# ---------------------------------------------------------------------------
# Product Quantization (PQ) — the FAISS IVF-PQ memory-compression leg.
# A d-dim vector is split into m contiguous subvectors; each subspace
# gets its own k-entry codebook (k-means over the SAME bounded
# md5-hash-ordered sample as the IVF coarse quantizer), and a vector is
# stored as m small integer codes: d×4 bytes of float32 → m bytes at
# k≤256.  Encoding is a pure map-side native expression (array_min over
# k literal sub-centroids per subspace — no shuffle, no UDF), so at
# 100 TB the encode pass is embarrassingly parallel and the codes ride
# as tiny columns.  Query-time ADC (asymmetric distance computation)
# reduces a distance evaluation to m literal-table lookups + (m−1)
# additions — no vector arithmetic against the corpus at all.
# ---------------------------------------------------------------------------
def train_pq_codebooks_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    iters: int = 8,
    sample_size: int = 256,
) -> list[list[list[float]]]:
    """Per-subspace codebooks from the portable (md5-hash-ordered)
    bounded sample — same recipe as `train_ivf_centroids_portable`, run
    `m` times on column slices of the sample, so a DuckDB oracle can
    reproduce the exact codebooks via `train_pq_codebooks_rows`."""
    from .dedup import portable_hash64

    rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.col(id_col).alias("__i"),
        )
        .orderBy(portable_hash64(F.col("__i").cast("string")))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    return _pq_lloyd(x, m, k, iters)


def train_pq_codebooks_rows(
    rows: list[tuple],
    m: int = 4,
    k: int = 16,
    iters: int = 8,
    sample_size: int = 256,
) -> list[list[list[float]]]:
    """Oracle-side twin of `train_pq_codebooks_portable` over (id, vec)
    tuples read outside Spark (same hash order, same `_lloyd`)."""
    ordered = sorted(rows, key=lambda r: _portable_hash_py(r[0]))[:sample_size]
    x = np.asarray([[float(v) for v in r[1]] for r in ordered], dtype=np.float64)
    return _pq_lloyd(x, m, k, iters)


def _pq_lloyd(
    x: np.ndarray, m: int, k: int, iters: int
) -> list[list[list[float]]]:
    dim = x.shape[1]
    ds = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        lo = j * ds
        hi = dim if j == m - 1 else (j + 1) * ds  # last book absorbs remainder
        books.append(_lloyd(x[:, lo:hi].copy(), k, iters))
    return books


def pq_subspace_offsets(codebooks: list[list[list[float]]]) -> list[int]:
    """1-based slice start of each subspace, derived from codebook widths
    (robust to a remainder-absorbing last subspace)."""
    offs, pos = [], 1
    for cb in codebooks:
        offs.append(pos)
        pos += len(cb[0])
    return offs


def double_array_sql(values) -> str:
    """Render a (possibly nested) list of floats as a Spark SQL array
    literal of DOUBLEs — one parser call instead of one py4j call per
    element.  repr(float) is shortest-round-trip, and decimal-string →
    nearest-double conversion matches Python's float exactly."""
    if isinstance(values, (list, tuple)):
        return "array(" + ",".join(double_array_sql(v) for v in values) + ")"
    v = float(values)
    if v != v or v in (float("inf"), float("-inf")):
        # repr() would render `inf`/`nan`, which Spark's parser resolves
        # as COLUMN REFERENCES — the resulting unresolved-attribute error
        # surfaces far from the real cause (degenerate quantizer
        # training).  Fail here with the cause named (ADVICE r5).
        raise ValueError(
            f"non-finite value {v!r} in literal array — quantizer/centroid "
            "training produced a degenerate result (empty cluster or "
            "overflow); refusing to emit it into SQL"
        )
    return f"CAST({v!r} AS DOUBLE)"


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    out_prefix: str = "__pq",
) -> DataFrame:
    """Stamp per-subspace struct(d=residual sqdist, i=code) columns —
    one Arrow kernel (`mapInArrow`), zero shuffles added.  Like
    `with_cluster`, the m×k×ds residual folds run vectorized in numpy
    over whole record batches instead of as interpreted
    (CodegenFallback) HOF expressions, bit-faithful to the expression
    form: per-dimension sequential fold, argmin ties to the lower
    code, and the slice/zip edge semantics reproduced exactly — a
    subspace whose slice is short of ds elements or carries a NULL
    element scores (d=NULL, i=0), a NULL vector scores (d=NULL, i=0)
    in every subspace, and an all-NaN slice ties to (NaN, 0) (pinned
    by tests against the expression form).  Codebooks ride the task
    closure — no literal expression tree (the analyzer paid ~1.7 s
    resolving the m×k literal fold form), no per-row pickling."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    books = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    offs = pq_subspace_offsets(codebooks)
    m = len(books)
    list_batch_views, range_has_null, fold_sq_dists = _np_kernels()
    struct_t = StructType(
        [StructField("d", DoubleType()), StructField("i", IntegerType())]
    )
    pa_struct = pa.struct(
        [pa.field("d", pa.float64()), pa.field("i", pa.int32())]
    )
    dtypes = dict(df.dtypes)
    staged = dtypes.get(vec_col) != "array<double>"
    vsrc = _staging_col(df, "__v64") if staged else vec_col
    base = (
        df.withColumn(vsrc, F.col(vec_col).cast("array<double>"))
        if staged
        else df
    )
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(f"{out_prefix}{j}", struct_t) for j in range(m)]
    )
    out_names = [f.name for f in df.schema.fields] + [
        f"{out_prefix}{j}" for j in range(m)
    ]

    def encode(batches):
        for b in batches:
            idx = b.schema.get_field_index(vsrc)
            col = b.column(idx)
            n = b.num_rows
            new_cols = []
            if n:
                starts, lengths, lnull, vals, cnull = list_batch_views(
                    col
                )
                for j in range(m):
                    cb = books[j]
                    ds = cb.shape[1]
                    s0 = offs[j] - 1
                    ok = (~lnull) & (lengths >= s0 + ds)
                    if ok.any():
                        lo = starts[ok] + s0
                        bad = range_has_null(cnull, lo, lo + ds)
                        if bad.any():
                            sel = np.flatnonzero(ok)[~bad]
                            ok = np.zeros(n, dtype=bool)
                            ok[sel] = True
                            lo = starts[ok] + s0
                    d_out = np.full(n, np.nan, dtype=np.float64)
                    i_out = np.zeros(n, dtype=np.int32)
                    if ok.any():
                        x = vals[lo[:, None] + np.arange(ds)]
                        d = fold_sq_dists(x, cb)
                        best = np.argmin(d, axis=0)
                        i_out[ok] = best.astype(np.int32)
                        d_out[ok] = d[best, np.arange(d.shape[1])]
                    d_arr = pa.array(d_out, type=pa.float64(), mask=~ok)
                    i_arr = pa.array(i_out, type=pa.int32())
                    new_cols.append(
                        pa.StructArray.from_arrays(
                            [d_arr, i_arr], fields=list(pa_struct)
                        )
                    )
            else:
                for j in range(m):
                    new_cols.append(pa.array([], type=pa_struct))
            if staged:
                keep = [
                    b.column(i)
                    for i, f in enumerate(b.schema)
                    if f.name != vsrc
                ]
            else:
                keep = [b.column(i) for i in range(b.num_columns)]
            yield pa.RecordBatch.from_arrays(
                keep + new_cols, names=out_names
            )

    return base.mapInArrow(encode, out_schema)


def pq_adc_tables(
    codebooks: list[list[list[float]]], query_vec: list[float]
) -> list[list[float]]:
    """Driver-side ADC lookup tables: tables[j][c] = ||q_j − cb[j][c]||².
    Tiny (m×k doubles) control data, embedded as literals in BOTH the
    Spark plan and the DuckDB oracle, so the per-row distance is just
    m lookups + sequential adds on identical constants."""
    q = [float(x) for x in query_vec]
    tabs: list[list[float]] = []
    for cb, start in zip(codebooks, pq_subspace_offsets(codebooks)):
        ds = len(cb[0])
        qs = q[start - 1 : start - 1 + ds]
        # sequential left fold from 0.0 — the same association as the
        # engine-side `_sq_dist` (zip_with + aggregate), so tables built
        # here are BIT-IDENTICAL to tables built engine-side (the batch
        # knn_join path); numpy's pairwise .sum() differs by ulps
        tabs.append(
            [
                sum(((qs[i] - float(c[i])) ** 2 for i in range(ds)), 0.0)
                for c in cb
            ]
        )
    return tabs
