"""Incremental aggregate maintenance — mergeable partial summaries.

At 100 TB you do not recompute a dashboard aggregate over the full fact
table per batch; you maintain a summary table of MERGEABLE partials
(count, sum, min, max — the commutative-monoid aggregates) and fold
each micro-batch's partial summary into it: cost per refresh is
O(batch + |summary|), independent of history size.  Derived metrics
(avg, rates) are computed at read time from the partials, never stored
— storing them would make the summary non-mergeable.

This is the materialized-view-maintenance pattern (same algebra Spark
itself uses between partial_ and final aggregates); the streaming twin
is `foreachBatch` upserting the merged summary via ManifestSnapshotTable.
Exactness: sums use the decimal accumulator, so partial-then-merge is
bit-identical to a direct aggregate regardless of how history was
batched (pinned by tests).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def summarize(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: dict[str, Column],
    minmax_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """One partial summary row per key: __n plus decimal sums and
    min/max partials."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, col in sum_cols.items():
        aggs.append(F.sum(col.cast("decimal(22,6)")).alias(f"__sum_{name}"))
    for name, col in (minmax_cols or {}).items():
        aggs.append(F.min(col).alias(f"__min_{name}"))
        aggs.append(F.max(col).alias(f"__max_{name}"))
    return df.groupBy(*keys).agg(*aggs)


def merge_summaries(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Fold two partial summaries (same schema) into one.  count/sum
    add; min/max take min/max.  Associative and commutative, so any
    batching of history converges to the same table."""
    merged = a.unionByName(b, allowMissingColumns=True)
    aggs = []
    for f in merged.schema.fields:
        if f.name in keys:
            continue
        if f.name == "__n" or f.name.startswith("__sum_"):
            aggs.append(F.sum(f.name).alias(f.name))
        elif f.name.startswith("__min_"):
            aggs.append(F.min(f.name).alias(f.name))
        elif f.name.startswith("__max_"):
            aggs.append(F.max(f.name).alias(f.name))
        else:
            raise ValueError(f"non-mergeable column in summary: {f.name}")
    return merged.groupBy(*keys).agg(*aggs)


def read_metrics(summary: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Read-time view: derived metrics from partials (n, each sum, and
    avg_<name> = sum/n as double)."""
    cols = [F.col(k) for k in keys] + [F.col("__n").alias("n")]
    for f in summary.schema.fields:
        if f.name.startswith("__sum_"):
            base = f.name[len("__sum_"):]
            cols.append(F.col(f.name).cast("double").alias(f"sum_{base}"))
            cols.append(
                (F.col(f.name).cast("double") / F.col("__n")).alias(f"avg_{base}")
            )
        elif f.name.startswith(("__min_", "__max_")):
            cols.append(F.col(f.name).alias(f.name[2:]))
    return summary.select(*cols)
