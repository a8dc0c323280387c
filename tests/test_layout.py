"""Z-order layout: Morton-code locality, zone-map-pruned reads of a
Z-ordered `ManifestSnapshotTable`, and the bucket primitives.  Value
parity of `zorder_layout_stats` is covered by test_oracle_parity; these
pin the property the layout exists for — 2-D data skipping."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.layout import (
    quantile_bounds,
    quantile_bucket,
    scaled_bucket,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
    all_queries,
)
from .conftest import SF_SMALL


def _orders_with_day(spark):
    return load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    )


def _ranges(df):
    r = df.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("day"), F.max("day")
    ).head()
    return (r[0], r[1]), (r[2], r[3])


class TestZorderLocality:
    def test_both_dimensions_narrow_per_file(self, spark):
        # the registered layout's top-8-bit z-cells are 16×16 blocks in
        # 256×256 bucket space ⇒ each file's min/max range on EITHER
        # dimension should span a small fraction of the domain (a 1-D
        # sort gives ~0 on one axis and ~1 on the other; random gives
        # ~1 on both)
        xr, yr = _ranges(_orders_with_day(spark))
        stats = (
            all_queries()["zorder_layout_stats"]
            .fn(spark, SF_SMALL)
            .filter(F.col("n") >= 5)
            .agg(
                F.avg(F.col("max_cust") - F.col("min_cust")),
                F.avg(F.col("max_day") - F.col("min_day")),
            )
            .head()
        )
        x_frac = stats[0] / (xr[1] - xr[0])
        y_frac = stats[1] / (yr[1] - yr[0])
        assert x_frac < 0.15, x_frac
        assert y_frac < 0.15, y_frac


class TestZorderPrunedRead:
    def test_round_trip_equals_full_filter_and_prunes(self, spark, tmp_path):
        o = _orders_with_day(spark)
        xr, yr = _ranges(o)
        t = ManifestSnapshotTable(
            spark, os.path.join(str(tmp_path), "zorders"),
            keys=["o_orderkey"], order_cols=["o_orderkey"],
            stats_cols=["o_custkey", "day"],
        )
        t.upsert(o)
        t.compact(
            cluster_by=["o_custkey", "day"], cluster_files=16,
            cluster_method="zorder",
        )

        # a selective 2-D box: the second eighth of each dimension
        xs = (
            xr[0] + (xr[1] - xr[0]) * 4 // 16,
            xr[0] + (xr[1] - xr[0]) * 6 // 16,
        )
        ys = (
            yr[0] + (yr[1] - yr[0]) * 4 // 16,
            yr[0] + (yr[1] - yr[0]) * 6 // 16,
        )
        pruned, _fk, _ft, files_kept, files_total = t.read_where_all(
            [("o_custkey", *xs), ("day", *ys)]
        )
        expected = o.filter(
            (F.col("o_custkey") >= xs[0])
            & (F.col("o_custkey") <= xs[1])
            & (F.col("day") >= ys[0])
            & (F.col("day") <= ys[1])
        )
        got = {r.o_orderkey for r in pruned.collect()}
        want = {r.o_orderkey for r in expected.collect()}
        assert got == want
        assert want  # box is non-empty, the test is meaningful

        # the per-file zone maps must actually prune: a 1/8 × 1/8 box
        # intersects a strict minority of the Z-ordered files
        assert files_total > 8
        assert 0 < files_kept < files_total / 2, (files_kept, files_total)


class TestQuantileBuckets:
    def test_balanced_under_skew_where_grid_collapses(self, spark):
        # heavy-tailed values: x = 2^(i mod 20) — the equal-width grid
        # dumps almost everything into bucket 0
        df = spark.range(4000).select(
            (F.pow(F.lit(2.0), (F.col("id") % 20).cast("double")))
            .cast("long")
            .alias("x")
        )
        bits = 4
        g = df.select(scaled_bucket(F.col("x"), 1, 2 ** 19, bits).alias("b"))
        top_grid = (
            g.groupBy("b").count().orderBy(F.col("count").desc()).head()[1]
        )
        assert top_grid > 0.5 * 4000  # grid collapsed

        bounds = quantile_bounds(df, "x", bits=bits)
        q = df.select(quantile_bucket(F.col("x"), bounds).alias("b"))
        counts = [r["count"] for r in q.groupBy("b").count().collect()]
        assert len(counts) >= (1 << bits) // 2  # most buckets populated
        assert max(counts) < 0.25 * 4000  # no collapsed bucket
