"""Layout-controlled parquet sinks: partitioned writes, file statistics,
and small-file compaction.

At 100 TB the sink layout *is* the query plan: partition dirs give
partition pruning, in-file ordering gives parquet min/max row-group
skipping, and file sizing decides scan parallelism.  Streaming ingest
(micro-batches) and naive parallel writes (`tasks × partitions` output
files) both degrade into small-file soup — `compact` is the maintenance
op every production table needs (Delta OPTIMIZE / Iceberg rewrite_data_files
re-expressed on plain parquet).

All file inventory goes through the `_metadata` hidden columns
(file_path/file_size), not driver-side directory walks — so the same
code works on HDFS/S3/local, and the listing scan prunes to zero data
columns (footer-only reads).
"""

from __future__ import annotations

import math
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_within: Sequence[str] = (),
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet write with controlled file counts.

    Repartitions on the partition columns first so each hive partition
    is produced by exactly one task — otherwise every one of the job's N
    tasks writes a sliver into every partition dir (N×P small files, the
    classic ingest mistake).  `max_records_per_file` re-splits oversized
    partitions; `sort_within` orders rows inside each file so parquet
    min/max stats skip row groups on those columns."""
    out = df
    if partition_by:
        out = out.repartition(*[F.col(c) for c in partition_by])
    if sort_within:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_within])
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout (Z-order-lite for one key family): global
    range partitioning on `cluster_by` + in-file sort ⇒ files own
    disjoint key ranges, so a point/range predicate on those columns
    touches one file's row groups instead of all of them."""
    out = (
        df.repartitionByRange(num_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*[F.col(c) for c in cluster_by])
    )
    out.write.mode(mode).parquet(path)


def file_stats(spark: SparkSession, path: str) -> DataFrame:
    """One row per data file: (file_path, file_bytes, rows).  Drives the
    compact-or-not decision and layout dashboards; scans only parquet
    footers (zero data columns selected)."""
    df = spark.read.parquet(path)
    return (
        df.select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.file_size").alias("file_bytes"),
        )
        .groupBy("file_path", "file_bytes")
        .agg(F.count(F.lit(1)).alias("rows"))
    )


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: Sequence[str] = (),
    sort_within: Sequence[str] = (),
) -> dict:
    """Bin-pack a parquet table's files toward `target_file_bytes`.

    Unpartitioned: repartition to ceil(total/target) files.  Partitioned:
    one file per hive partition (repartition on the partition columns),
    re-split by an estimated records-per-target-file cap so a hot
    partition still yields right-sized files.  Rewrite goes through a
    staging dir then an overwrite of the final path (a path cannot be
    read and overwritten by one job).  Returns before/after file
    counts for observability."""
    stats = file_stats(spark, path).agg(
        F.count(F.lit(1)).alias("files"),
        F.sum("file_bytes").alias("bytes"),
        F.sum("rows").alias("rows"),
    ).head()
    n_before, total_bytes, total_rows = stats[0], stats[1] or 0, stats[2] or 0
    df = spark.read.parquet(path)

    tmp = path + "__compacting"
    df.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    if partition_by:
        bytes_per_row = (total_bytes / total_rows) if total_rows else 1.0
        cap = max(1, int(target_file_bytes / max(bytes_per_row, 1e-9)))
        write_partitioned(
            staged, path, partition_by, sort_within, max_records_per_file=cap
        )
    else:
        n_target = max(1, math.ceil(total_bytes / target_file_bytes))
        out = staged.repartition(n_target)
        if sort_within:
            out = out.sortWithinPartitions(*[F.col(c) for c in sort_within])
        out.write.mode("overwrite").parquet(path)
    shutil.rmtree(tmp, ignore_errors=True)

    n_after = file_stats(spark, path).count()
    return {"files_before": n_before, "files_after": n_after,
            "bytes": total_bytes, "rows": total_rows}


def morton_interleave(cols: Sequence[F.Column], bits: int) -> F.Column:
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


def scaled_bucket(c: F.Column, lo, hi, bits: int) -> F.Column:
    """NULL-safe uniform-width bucketization of ``c`` into
    [0, 2^bits − 1] between the driver-side ``lo``/``hi`` bounds: the
    quantization half of every Morton layout, shared by
    `write_zordered` and `ManifestSnapshotTable.compact(zorder)` so the
    two paths cannot drift.  NULLs bucket to 0 (NULLS FIRST — a NULL
    fed raw into `morton_interleave` would poison the whole key to
    NULL); unknown or degenerate bounds (constant / all-NULL column)
    contribute a constant bucket, i.e. no order."""
    top = (1 << bits) - 1
    if lo is None or hi is None or hi <= lo:
        return F.lit(0).cast("long")
    scaled = F.floor(
        (c.cast("double") - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(top))
    ).cast("long")
    return F.coalesce(
        F.least(F.greatest(scaled, F.lit(0)), F.lit(top)), F.lit(0)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered layout (Delta OPTIMIZE ZORDER BY re-expressed on
    plain parquet): min/max-normalize each cluster column to `bits`-bit
    buckets (one cheap agg, broadcast as literals), bit-interleave into a
    Morton key, then range-partition + sort on it.  Unlike
    `write_clustered` (disjoint ranges on ONE key family), every file
    covers a small hyper-rectangle of ALL cluster columns, so min/max
    skipping works for predicates on any subset of them."""
    lo_hi = df.agg(
        *[F.min(c).cast("double").alias(f"lo_{c}") for c in cluster_by],
        *[F.max(c).cast("double").alias(f"hi_{c}") for c in cluster_by],
    ).head()
    scaled = [
        scaled_bucket(
            F.col(c), lo_hi[f"lo_{c}"], lo_hi[f"hi_{c}"], bits
        )
        for c in cluster_by
    ]
    out = (
        df.withColumn("__z", morton_interleave(scaled, bits))
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode(mode).parquet(path)


def column_stats(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Per-file min/max for `cols` — the data-skipping index that table
    formats (Delta/Iceberg) keep in their commit log.  Built here with
    one aggregate over `_metadata.file_path`; persist it next to the
    data and refresh on write to skip the scan."""
    df = spark.read.parquet(path)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(
        F.col("_metadata.file_path").alias("file_path")
    ).agg(*aggs)


def read_pruned(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Range scan with explicit file-level skipping: drop every file
    whose [min,max] envelope misses [lo, hi], read only survivors, then
    apply the exact predicate.  Returns (frame, files_kept, files_total).

    Pays off on top of write_clustered/write_zordered layouts, where
    files own disjoint key ranges — a narrow range touches 1-2 files.
    The file list is collected on the driver (one row per file, the
    standard metadata-index pattern); at extreme file counts keep the
    stats as a table and semi-join the scan instead."""
    stats = column_stats(spark, path, [col]).collect()
    keep = [
        r["file_path"]
        for r in stats
        if r[f"max_{col}"] is not None
        and not (r[f"max_{col}"] < lo or r[f"min_{col}"] > hi)
    ]
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not keep:
        base = spark.read.parquet(path).filter(F.lit(False))
        return base.filter(pred), 0, len(stats)
    return spark.read.parquet(*keep).filter(pred), len(keep), len(stats)
