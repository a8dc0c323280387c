"""Z-order (Morton-curve) bucket and interleave primitives — the
shared halves of every multi-dimensional layout in the package.

A table sorted on ONE column skips files for predicates on that column
only; quantizing several columns into buckets and interleaving the
bucket bits into a Morton key gives every file a small hyper-rectangle
in the cluster columns' space, so per-file min/max zone maps prune
files for predicates on ANY of them.  `ManifestSnapshotTable.compact(
cluster_method="zorder")` is the one writer of that layout; it builds
its key from `scaled_bucket` (or `quantile_bounds` / `quantile_bucket`)
and `morton_interleave`.  The registered `zorder_layout_stats` query
computes the same key with exact-integer grid buckets via `morton`, and
its DuckDB oracle via `morton_sql`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_interleave(cols: Sequence[Column], bits: int) -> Column:
    """Z-order key: bit-interleave `bits` low bits of each (already
    bucketized, non-negative long) column — pure native shifts/masks, so
    the key computes inside codegen with zero Python in the write path."""
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def scaled_bucket(c: Column, lo, hi, bits: int) -> Column:
    """NULL-safe uniform-width bucketization of ``c`` into
    [0, 2^bits − 1] between the driver-side ``lo``/``hi`` bounds: the
    quantization half of the Morton key.  NULLs bucket to 0 (NULLS
    FIRST — a NULL fed raw into `morton_interleave` would poison the
    whole key to NULL); unknown or degenerate bounds (constant /
    all-NULL column) contribute a constant bucket, i.e. no order."""
    top = (1 << bits) - 1
    if lo is None or hi is None or hi <= lo:
        return F.lit(0).cast("long")
    scaled = F.floor(
        (c.cast("double") - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(top))
    ).cast("long")
    return F.coalesce(
        F.least(F.greatest(scaled, F.lit(0)), F.lit(top)), F.lit(0)
    )


def morton(xb: Column, yb: Column, bits: int = 8) -> Column:
    """Two-column `morton_interleave`: x bits land at even positions,
    y at odd — the placement `morton_sql` mirrors for the oracle."""
    return morton_interleave([xb.cast("long"), yb.cast("long")], bits)


def morton_sql(xb: str, yb: str, bits: int = 8) -> str:
    """Engine-portable SQL twin of `morton` (div/mod arithmetic only —
    no dialect-specific shift operators)."""
    terms = []
    for b in range(bits):
        terms.append(f"(({xb}) // {1 << b}) % 2 * {1 << (2 * b)}")
        terms.append(f"(({yb}) // {1 << b}) % 2 * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def quantile_bounds(
    df: DataFrame,
    col: str,
    bits: int = 8,
    sample_size: int = 4096,
) -> list[float]:
    """Skew-robust bucketization boundaries: 2^bits − 1 sample
    quantiles (type-1/inverse-CDF over a deterministic portable-hash
    sample) collected driver-side as layout-time constants.  On skewed
    data the equal-width grid collapses most rows into a few buckets —
    these boundaries give ~equal-population buckets, so every z-cell
    holds a comparable row count (balanced files)."""
    from .dedup import portable_hash64

    rows = (
        df.select(F.col(col).cast("double").alias("__v"))
        .orderBy(portable_hash64(F.col(col).cast("string")))
        .limit(sample_size)
        .collect()
    )
    # NULLs carry no order (they bucket to 0 downstream: a NULL probe
    # in quantile_bucket's predicate filters every boundary out), and
    # an empty/all-NULL column yields no boundaries — callers treat []
    # as "constant bucket, no order contribution"
    vals = sorted(r["__v"] for r in rows if r["__v"] is not None)
    n, k = len(vals), (1 << bits) - 1
    if n == 0:
        return []
    return [vals[min(n - 1, max(0, (n * q) // (k + 1)))] for q in range(1, k + 1)]


def quantile_bucket(v: Column, bounds: list[float]) -> Column:
    """Map-side bucket = number of boundaries ≤ v (a literal-array
    scan — no join, no shuffle; the searchsorted analog)."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: b <= v.cast("double"))).cast("long")
