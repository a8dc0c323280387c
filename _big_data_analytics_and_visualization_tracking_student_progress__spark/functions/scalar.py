"""Scalar / aggregate expression builders (SURVEY.md §2.6 F1-F15, §2.4 A1-A5).

All native Column expressions — no Python UDFs — so they stay JVM-side
inside whole-stage codegen and vectorize over Parquet batches.  Each
docstring cites the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F6 — grade bucketing (reference app.py:39-55): 10-point scale → 4-point
# GPA.  Chained `when` — vectorized CASE, not a row-wise Python function.
# Boundary values pinned from the reference: >=9→4.0, >=8→3.5, >=7→3.0,
# >=6.5→2.5, >=5.5→2.0, >=5→1.5, >=4→1.0, else 0.0.
# ---------------------------------------------------------------------------
GRADE_SCALE_4PT = (
    (9.0, 4.0),
    (8.0, 3.5),
    (7.0, 3.0),
    (6.5, 2.5),
    (5.5, 2.0),
    (5.0, 1.5),
    (4.0, 1.0),
)


def grade_bucket_4pt(score10: Column) -> Column:
    """CASE chain mapping a 10-point score to 4-point GPA (app.py:39-55)."""
    expr = None
    for lo, gpa in GRADE_SCALE_4PT:
        cond = score10 >= F.lit(lo)
        expr = F.when(cond, F.lit(gpa)) if expr is None else expr.when(cond, F.lit(gpa))
    return expr.otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# F8 — rule-based status classification (reference app.py:161-178):
# remaining<=0 → completed; remaining <= remaining_capacity → on_track;
# else behind.
# ---------------------------------------------------------------------------
def status_case(remaining: Column, remaining_capacity: Column) -> Column:
    return (
        F.when(remaining <= 0, F.lit("completed"))
        .when(remaining <= remaining_capacity, F.lit("on_track"))
        .otherwise(F.lit("behind"))
    )


# ---------------------------------------------------------------------------
# F13 — composite document key (reference con.py:23-30): "_"-joined
# business key with a fallback variant when a component is absent.
# ---------------------------------------------------------------------------
def composite_key(*cols: Column, fallback: Column | None = None) -> Column:
    key = F.concat_ws("_", *[c.cast("string") for c in cols])
    if fallback is not None:
        key = F.when(cols[-1].isNotNull(), key).otherwise(fallback)
    return key


# ---------------------------------------------------------------------------
# F12 — deterministic row hash for CDC (reference pro.py:29-32:
# md5(json.dumps(row, sort_keys=True))).  We fix a canonical column order
# (sorted names) and hash a concat of string-cast values; NULL-safe via
# coalesce to a sentinel so NULL != ''.
# ---------------------------------------------------------------------------
def row_hash(df_columns: list[str]) -> Column:
    cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in sorted(df_columns)
    ]
    return F.md5(F.concat_ws("\x01", *cols))


# ---------------------------------------------------------------------------
# F5 — lenient numeric cast (reference con.py:39-43 / app.py:124-125:
# float() with except / to_numeric(errors="coerce")).  Non-ANSI cast
# already NULLs on failure; try_cast makes the intent explicit and is
# safe under either ANSI setting.
# ---------------------------------------------------------------------------
def lenient_double(c: Column) -> Column:
    return c.try_cast("double")


# ---------------------------------------------------------------------------
# Exact-decimal sum: double summation order varies across partitions, so a
# raw sum(double) is nondeterministic in the last ulps and would break
# value-hash comparison against the DuckDB oracle.  Summing DECIMAL(18,s)
# is exact and deterministic on both engines; cast back to double at the
# edge.
# ---------------------------------------------------------------------------
def dsum(c: Column, scale: int = 4) -> Column:
    return F.sum(c.cast(f"decimal(22,{scale})"))


# ---------------------------------------------------------------------------
# Cross-engine-deterministic quantization of a DOUBLE.  Engine round()
# implementations disagree at half boundaries (JVM rounds the shortest
# decimal repr HALF_UP; DuckDB rounds the scaled binary value), so for
# oracle-compared outputs we quantize with pure IEEE ops — multiply, add,
# floor, divide are bit-identical on any IEEE-754 engine.
# SQL equivalent: FLOOR(x * 10^n + 0.5) / CAST(10^n AS DOUBLE).
# ---------------------------------------------------------------------------
def dround(c: Column, n: int) -> Column:
    s = float(10**n)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def wavg(value: Column, weight: Column, scale: int = 6) -> Column:
    """A3 — weighted average with the reference's zero-denominator guard
    (app.py:141-144 returns 0.0, where plain SQL division yields NULL).

    The division is done in DOUBLE (not decimal) because DuckDB decimal
    division degrades to double anyway — double/double is the one form
    that is bit-identical across engines."""
    num = dsum(value * weight, scale).cast("double")
    den = dsum(weight, scale)
    return F.when(den > 0, num / den.cast("double")).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# F11 — monotonic event-time synthesis (reference pro.py:27,71-73: the
# producer stamps each row with last_timestamp += 100µs so event times
# are strictly increasing and unique).  Spark twin: one base timestamp
# plus a per-row unique increasing id scaled to 100µs ticks.  Unique and
# monotone within each partition (the id's partition prefix keeps
# cross-partition ids disjoint), without any driver-side sequencing.
# ---------------------------------------------------------------------------
def synthetic_event_time(base: Column | None = None) -> Column:
    base_us = F.unix_micros(base if base is not None else F.current_timestamp())
    return F.timestamp_micros(base_us + F.monotonically_increasing_id() * 100)
