"""Core relational query set — SURVEY.md §2.2-2.7 inventory, each entry
mapping a reference operator (P*/J*/A*/W*/F* citation in the docstring)
onto the driver's star-schema fixtures, with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datasets import load_table
from ..functions.scalar import dround, dsum, grade_bucket_4pt
from ..localframe import empty_frame
from ..operators.cdc import diff_snapshots
from ..operators.relational import anti_join, broadcast_lookup, semi_join
from ..operators.windows import latest_by_key, top_k
from ..plans.student_progress import (
    FLAGSHIP_ORACLE_SQL,
    flagship_progress,
    transcript_lookup,
)
from ..registry import register

# ---------------------------------------------------------------------------
# Flagship + point lookup (reference E3 pipeline)
# ---------------------------------------------------------------------------
register("flagship_progress", FLAGSHIP_ORACLE_SQL,
         doc="full app.py:58-191 pipeline: joins+CASE+weighted-avg+status")(
    flagship_progress
)


@register(
    "transcript_lookup",
    """
    SELECT c.c_custkey, l.l_orderkey, l.l_linenumber,
           FLOOR(l.l_quantity / 5.0 * 10000.0 + 0.5) / 10000.0 AS grade10,
           CASE WHEN l.l_quantity/5.0 >= 9.0 THEN 4.0
                 WHEN l.l_quantity/5.0 >= 8.0 THEN 3.5
                 WHEN l.l_quantity/5.0 >= 7.0 THEN 3.0
                 WHEN l.l_quantity/5.0 >= 6.5 THEN 2.5
                 WHEN l.l_quantity/5.0 >= 5.5 THEN 2.0
                 WHEN l.l_quantity/5.0 >= 5.0 THEN 1.5
                 WHEN l.l_quantity/5.0 >= 4.0 THEN 1.0
                 ELSE 0.0 END AS grade4,
           FLOOR(l.l_extendedprice / 10000.0 * 10000.0 + 0.5) / 10000.0 AS credits,
           l.l_returnflag, l.l_linestatus
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey = 1
    ORDER BY l.l_orderkey, l.l_linenumber
    LIMIT 1000
    """,
    doc="P2 point filter + P1 projection + W1 sort + P9 limit (app.py:60-83)",
)
def q_transcript(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcript_lookup(spark, sf_dir, custkey=1)


# ---------------------------------------------------------------------------
# A1-A3 — weighted aggregate pipeline (TPC-H Q1 shape; GPA structure)
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(22,4))) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(22,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))), 2) AS DOUBLE) AS sum_disc_price,
           FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(22,4))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1/A2 weighted sums + A6 count, same shape as the GPA numerator/denominator (app.py:137-138)",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).cast("double").alias("sum_qty"),
            F.round(dsum(F.col("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6), 2
            ).cast("double").alias("sum_disc_price"),
            dround(
                dsum(F.col("l_quantity")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1/J2 — broadcast dimension joins
# ---------------------------------------------------------------------------
@register(
    "dim_join_rollup",
    """
    SELECT r.r_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           FLOOR(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(22,4))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="J1/J2 broadcast dim lookups (app.py:15-36,86,100-101) + grouped agg",
)
def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    enriched = broadcast_lookup(
        broadcast_lookup(c, n, c.c_nationkey == n.n_nationkey, "inner"),
        r,
        F.col("n_regionkey") == r.r_regionkey,
        "inner",
    )
    return enriched.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dround(
            dsum(F.col("c_acctbal")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_acctbal"),
    )


# ---------------------------------------------------------------------------
# J3 — anti join / semi join
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    doc="J3 left-anti join — the CDC hash-difference shape (pro.py:46-55); "
        "date-bounded so the result is non-empty at every fixture scale",
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    return anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name")


@register(
    "customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
    doc="left-semi join (existence filter)",
)
def q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return semi_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J4 — latest-by-key (read side of the ES upsert, con.py:55-63)
# ---------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="J4 upsert read-side: last-write-wins per key via row_number window",
)
def q_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # order on the raw nanosecond long so tie-breaking matches DuckDB's
    # nanosecond-precision ORDER BY ts DESC exactly
    return latest_by_key(
        e, ["user_id"], [F.col("ts_nanos").desc(), F.col("event_id").desc()]
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


# ---------------------------------------------------------------------------
# W2 — top-k (TakeOrderedAndProject)
# ---------------------------------------------------------------------------
@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="W2 sort+cap (ES size:1000, app.py:66,185) — heap top-k, no full sort",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return top_k(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


# ---------------------------------------------------------------------------
# Ranking / analytic window (engine addition beyond reference, §2.5)
# ---------------------------------------------------------------------------
@register(
    "order_rank_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="ranking + running aggregate over a per-key ordered window",
)
def q_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# F6 + A7 — grade-scale bucketing → histogram (Kibana score distribution)
# ---------------------------------------------------------------------------
@register(
    "grade_histogram",
    """
    SELECT CASE WHEN l_quantity/5.0 >= 9.0 THEN 4.0
                WHEN l_quantity/5.0 >= 8.0 THEN 3.5
                WHEN l_quantity/5.0 >= 7.0 THEN 3.0
                WHEN l_quantity/5.0 >= 6.5 THEN 2.5
                WHEN l_quantity/5.0 >= 5.5 THEN 2.0
                WHEN l_quantity/5.0 >= 5.0 THEN 1.5
                WHEN l_quantity/5.0 >= 4.0 THEN 1.0
                ELSE 0.0 END AS grade4,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
    """,
    doc="F6 10pt→4pt CASE (app.py:39-55) + A7 score-distribution histogram",
)
def q_grade_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(grade_bucket_4pt(F.col("l_quantity") / 5.0).alias("grade4"))
        .groupBy("grade4")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# A7 — time trend (Kibana trend dashboards)
# ---------------------------------------------------------------------------
@register(
    "monthly_order_trend",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(22,4))), 2) AS DOUBLE) AS revenue,
           FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS avg_price
    FROM orders GROUP BY 1
    """,
    doc="A7 per-term trend (groupBy month + count/avg), README.md:26-27",
)
def q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(dsum(F.col("o_totalprice")), 2).cast("double").alias("revenue"),
        dround(
            dsum(F.col("o_totalprice")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# A4 — existential aggregate (program classification, app.py:90-93)
# ---------------------------------------------------------------------------
@register(
    "nation_has_segment",
    """
    SELECT n.n_name,
           CAST(MAX(CASE WHEN c.c_mktsegment LIKE 'BUILD%' THEN 1 ELSE 0 END) AS INT)
               AS has_building,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="A4 existential ANY via max(when(startswith)) (app.py:90-93)",
)
def q_existential(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        broadcast_lookup(c, n, c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            F.max(
                F.when(F.col("c_mktsegment").startswith("BUILD"), 1).otherwise(0)
            ).cast("int").alias("has_building"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# §2.7 — set operations
# ---------------------------------------------------------------------------
@register(
    "segment_set_ops",
    """
    WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
    SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT * FROM building UNION SELECT * FROM buyers)
    UNION ALL
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT * FROM building INTERSECT SELECT * FROM buyers)
    UNION ALL
    SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT * FROM building EXCEPT SELECT * FROM buyers)
    """,
    doc="union/intersect/except — generalizes the CDC set-difference (pro.py:46-55)",
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    buyers = o.select(F.col("o_custkey").alias("c_custkey")).distinct()

    def tagged(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        tagged("union", building.union(buyers).distinct())
        .unionByName(tagged("intersect", building.intersect(buyers)))
        .unionByName(tagged("except", building.exceptAll(buyers).distinct()))
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube (engine addition, §2.4 row)
# ---------------------------------------------------------------------------
@register(
    "region_nation_rollup",
    """
    SELECT r.r_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="hierarchical subtotals via ROLLUP",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = broadcast_lookup(
        broadcast_lookup(c, n, c.c_nationkey == n.n_nationkey, "inner"),
        r,
        F.col("n_regionkey") == r.r_regionkey,
        "inner",
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "status_priority_cube",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="full cross-dimensional subtotals via CUBE",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# F15/JSON — json field extraction (events.props)
# ---------------------------------------------------------------------------
@register(
    "json_props_agg",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(22,6))), 4) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="F15 JSON deserialize → field extraction → agg (con.py:20 analog)",
)
def q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod"),
            "value",
        )
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum(F.col("value"), 6), 4).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# P6/J3 — CDC snapshot diff on row hashes
# ---------------------------------------------------------------------------
_CDC_COLS = ["event_id", "event_type", "props", "user_id"]  # text/int only →
# identical string rendering in Spark and DuckDB (doubles/timestamps render
# differently and are excluded from the hashed payload on both sides).


@register(
    "cdc_changed_rows",
    """
    WITH hashed AS (
        SELECT event_id, user_id, event_type, props,
               md5(concat_ws(chr(1),
                   COALESCE(CAST(event_id AS VARCHAR), chr(0) || 'null'),
                   COALESCE(event_type, chr(0) || 'null'),
                   COALESCE(props, chr(0) || 'null'),
                   COALESCE(CAST(user_id AS VARCHAR), chr(0) || 'null')
               )) AS row_hash
        FROM events
    ),
    old AS (SELECT row_hash FROM hashed WHERE event_id % 10 <> 0)
    SELECT h.event_id, h.user_id, h.event_type, h.props
    FROM hashed h WHERE h.row_hash NOT IN (SELECT row_hash FROM old)
    """,
    doc="P6 row-hash CDC: md5 over canonical column order + anti-join vs snapshot (pro.py:29-32,46-55)",
)
def q_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(*_CDC_COLS)
    old = e.filter(F.col("event_id") % 10 != 0)
    return diff_snapshots(e, old, _CDC_COLS).select(
        "event_id", "user_id", "event_type", "props"
    )


# ---------------------------------------------------------------------------
# S2 — modified-file re-ingest (watchdog on_modified parity)
# ---------------------------------------------------------------------------
@register(
    "modified_file_reingest",
    """
    SELECT CAST(doc_id AS DOUBLE) AS doc_id, lang, source,
           CAST(n_chars + 1000 AS DOUBLE) AS n_chars
    FROM documents WHERE doc_id % 17 = 0 AND doc_id % 3 = 0
    """,
    doc=(
        "S2/P6/J3/S5 modified-file re-ingest: the reference's watchdog "
        "on_modified (pro.py:103-108) reprocesses an in-place-overwritten "
        "spreadsheet; here the file-level content-hash monitor "
        "(sources/watcher.py) detects the overwrite, re-reads it through "
        "read_excel (.xls BIFF8 path), row-hash-diffs against the file's "
        "previous snapshot, and MERGEs only the changed rows into the "
        "keyed serving table.  The query returns the second pass's "
        "changed-row feed: exactly the rows whose n_chars was edited."
    ),
)
def q_modified_file_reingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.upsert import ManifestSnapshotTable
    from ..sources.watcher import DropIngestor
    from ..sources.xls import write_minimal_xls

    # The drop file is a small operational spreadsheet (driver-localized
    # by design — pro.py reads workbooks row-wise on one node too); all
    # row-level diff/merge work below is distributed.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 0)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    header = ["doc_id", "lang", "source", "n_chars"]
    v1 = [[float(r.doc_id), r.lang, r.source, float(r.n_chars)] for r in docs]
    v2 = [
        [d, lang, src, n + 1000.0 if int(d) % 3 == 0 else n]
        for d, lang, src, n in v1
    ]

    wd = tempfile.mkdtemp(prefix="sparkgraft_reingest_")
    try:
        drop_dir = os.path.join(wd, "drop")
        os.makedirs(drop_dir)
        path = os.path.join(drop_dir, "documents.xls")
        table = ManifestSnapshotTable(
            spark,
            os.path.join(wd, "serving"),
            keys=["doc_id"],
            order_cols=["ingest_seq"],
        )
        ing = DropIngestor(spark, drop_dir, os.path.join(wd, "state"), table)

        write_minimal_xls(path, header, v1)
        ing.process_once()  # first sight: whole file flows
        write_minimal_xls(path, header, v2)  # in-place overwrite
        changed = ing.process_once()  # only the edited rows flow
        if changed is None:  # degenerate fixture: nothing divisible by 3
            empty = "doc_id double, lang string, source string, n_chars double"
            return empty_frame(spark, empty)
        out = changed.select("doc_id", "lang", "source", "n_chars")
        # the edited-row diff is bounded control data (the drop file is
        # a small operational spreadsheet); materializing lets the
        # ephemeral drop/serving/state dirs be removed before return
        # instead of leaking a workdir per invocation
        from ._ephemeral import materialize_bounded

        return materialize_bounded(spark, out)
    finally:
        import shutil

        shutil.rmtree(wd, ignore_errors=True)


# ---------------------------------------------------------------------------
# F13/F14 — composite key + date-partition naming
# ---------------------------------------------------------------------------
@register(
    "composite_doc_key",
    """
    SELECT event_id,
           concat_ws('_', event_type, CAST(user_id AS VARCHAR),
                     CAST(event_id AS VARCHAR)) AS doc_id,
           strftime(ts, '%Y.%m.%d') AS index_date
    FROM events
    """,
    doc="F13 composite `_id` (con.py:23-30) + F14 dated index name (con.py:58)",
)
def q_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import composite_key

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        composite_key(F.col("event_type"), F.col("user_id"), F.col("event_id")).alias(
            "doc_id"
        ),
        F.date_format("ts", "yyyy.MM.dd").alias("index_date"),
    )


# ---------------------------------------------------------------------------
# F5 — lenient cast; F1/F4 — substring + cast
# ---------------------------------------------------------------------------
@register(
    "lenient_casts",
    """
    SELECT c_custkey,
           TRY_CAST(substring(c_name, 10) AS DOUBLE) AS id_num,
           TRY_CAST(c_mktsegment AS DOUBLE) AS seg_num,
           (TRY_CAST(c_mktsegment AS DOUBLE) IS NULL) AS seg_is_null
    FROM customer
    """,
    doc="F5 lenient numeric cast: NULL on failure (con.py:39-43, app.py:124-125)",
)
def q_lenient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import lenient_double

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        lenient_double(F.substring(F.col("c_name"), 10, 100)).alias("id_num"),
        lenient_double(F.col("c_mktsegment")).alias("seg_num"),
        lenient_double(F.col("c_mktsegment")).isNull().alias("seg_is_null"),
    )


@register(
    "term_key_parts",
    """
    SELECT o_orderkey,
           CAST(strftime(o_orderdate, '%Y%m') AS INT) AS term_key,
           CAST(substring(strftime(o_orderdate, '%Y%m'), 1, 4) AS INT) AS term_year,
           substring(o_orderpriority, 1, 1) AS priority_code
    FROM orders
    """,
    doc="F1 substring slicing + F4 string→int cast (NHHK term key, app.py:181-182)",
)
def q_termkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ym = F.date_format("o_orderdate", "yyyyMM")
    return o.select(
        "o_orderkey",
        ym.cast("int").alias("term_key"),
        F.substring(ym, 1, 4).cast("int").alias("term_year"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
    )


# ---------------------------------------------------------------------------
# F7 — derived per-program columns (con.py:46-52)
# ---------------------------------------------------------------------------
@register(
    "derived_program_columns",
    """
    SELECT c_custkey,
           CASE WHEN c_mktsegment LIKE 'BUILD%' THEN c_name END AS building_name,
           CASE WHEN c_mktsegment LIKE 'AUTO%' THEN c_name END AS auto_name,
           CASE WHEN c_mktsegment LIKE 'BUILD%' THEN c_acctbal END AS building_bal
    FROM customer
    """,
    doc="F7 conditional column fan-out by prefix (NNA/MMT derivation, con.py:46-52)",
)
def q_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    return c.select(
        "c_custkey",
        F.when(seg.startswith("BUILD"), F.col("c_name")).alias("building_name"),
        F.when(seg.startswith("AUTO"), F.col("c_name")).alias("auto_name"),
        F.when(seg.startswith("BUILD"), F.col("c_acctbal")).alias("building_bal"),
    )


# ---------------------------------------------------------------------------
# As-of join (engine addition — Spark lacks it; union-merge realization in
# operators/relational.py keeps it one shuffle).  DuckDB's native ASOF
# JOIN is the oracle.
# ---------------------------------------------------------------------------
@register(
    "asof_click_error",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         errors AS (SELECT user_id, ts, value FROM events WHERE event_type = 'error')
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts_s,
           e.value AS err_value
    FROM clicks c ASOF LEFT JOIN errors e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    doc="as-of join: each click matched to the user's most recent prior error (single-shuffle union-merge)",
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("value").alias("err_value")
    )
    out = asof_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="err_ts",
        right_cols=["err_ts", "err_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.date_format("err_ts", "yyyy-MM-dd HH:mm:ss").alias("err_ts_s"),
        "err_value",
    )


# ---------------------------------------------------------------------------
# Range join against a dimension-sized interval table (broadcast
# nested-loop — fact side never shuffles).
# ---------------------------------------------------------------------------
_VALUE_BUCKETS = [
    (0.0, 5.0, "tiny"),
    (5.0, 20.0, "small"),
    (20.0, 100.0, "medium"),
    (100.0, 1e9, "large"),
]
_VALUE_BUCKETS_SQL = ", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _VALUE_BUCKETS)


@register(
    "range_join_buckets",
    f"""
    SELECT e.event_id, r.bucket,
           CAST(COUNT(*) OVER (PARTITION BY r.bucket) AS BIGINT) AS bucket_n
    FROM events e
    JOIN (VALUES {_VALUE_BUCKETS_SQL}) r(lo, hi, bucket)
      ON e.value >= r.lo AND e.value < r.hi
    """,
    doc="range (theta) join: event value vs broadcast [lo,hi) interval dim",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import range_join_broadcast
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        _VALUE_BUCKETS, "lo double, hi double, bucket string"
    )
    joined = range_join_broadcast(e, ranges, "value", "lo", "hi")
    return joined.select(
        "event_id",
        "bucket",
        F.count(F.lit(1)).over(Window.partitionBy("bucket")).alias("bucket_n"),
    )


# ---------------------------------------------------------------------------
# Distinct aggregation (absent in reference; §2.4 "free in Spark" row)
# ---------------------------------------------------------------------------
@register(
    "distinct_users_daily",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
    doc="distinct aggregate: daily active users (two-phase distinct agg, map-side partial)",
)
def q_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (linear interpolation on both engines)
# ---------------------------------------------------------------------------
@register(
    "value_percentiles",
    """
    SELECT event_type,
           FLOOR(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS p50,
           FLOOR(quantile_cont(value, 0.9) * 1000000.0 + 0.5) / 1000000.0 AS p90,
           FLOOR(quantile_cont(value, 0.99) * 1000000.0 + 0.5) / 1000000.0 AS p99
    FROM events GROUP BY event_type
    """,
    doc="exact percentiles per event type (Spark `percentile` ⇔ DuckDB quantile_cont)",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        dround(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("p50"),
        dround(F.percentile(F.col("value"), F.lit(0.9)), 6).alias("p90"),
        dround(F.percentile(F.col("value"), F.lit(0.99)), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Grouped top-k (windowed rank ≤ k): the "leaderboard per segment"
# shape; rows beyond k never leave their executor.
# ---------------------------------------------------------------------------
@register(
    "top3_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey ASC)
                   AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
    doc="grouped top-k: 3 highest-value orders per priority class via windowed rank",
)
def q_top3_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_top_k

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return grouped_top_k(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: two disjoint halves of the fact
# table are summarized independently and MERGED — the result must equal
# a direct aggregate over everything (materialized-view refresh
# algebra).  The oracle computes the direct aggregate, so the merge
# path's exactness is what's being checked.
# ---------------------------------------------------------------------------
@register(
    "incremental_event_stats",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value,
           FLOOR(CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="incremental summary maintenance: merge of two disjoint partial summaries ≡ direct aggregate",
)
def q_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import merge_summaries, read_metrics, summarize

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    half_a = e.filter(F.col("event_id") % 2 == 0)
    half_b = e.filter(F.col("event_id") % 2 == 1)
    mk = lambda d: summarize(  # noqa: E731
        d,
        ["event_type"],
        {"value": F.col("value")},
        {"value": F.col("value")},
    )
    merged = merge_summaries(mk(half_a), mk(half_b), ["event_type"])
    m = read_metrics(merged, ["event_type"])
    return m.select(
        "event_type",
        "n",
        "sum_value",
        dround(F.col("avg_value"), 4).alias("avg_value"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Batch sessionization (gap-based): the batch complement of the
# streaming session window — lag() marks >30-min gaps, a running sum
# numbers sessions, then one aggregate per (user, session).  All three
# phases share a single shuffle on user_id.
# ---------------------------------------------------------------------------
@register(
    "user_sessions_30min",
    """
    WITH o AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
    ), flagged AS (
        SELECT user_id, event_id, tus,
               CASE WHEN lag(tus) OVER w IS NULL
                         OR tus - lag(tus) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_start
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), sess AS (
        SELECT user_id, event_id, tus,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(min(tus) AS BIGINT) AS start_us,
           CAST(max(tus) AS BIGINT) AS end_us
    FROM sess GROUP BY user_id, session_seq
    """,
    doc="gap-based batch sessionization (30-min gap on microsecond longs) with per-session aggregates",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sessionize

    # microsecond longs on both engines: DuckDB's parquet reader narrows
    # TIMESTAMP(NANOS) to us, so the session grid is defined on us.
    # `div` (integer division) on the raw nanos — a double division
    # would lose ~128 ns at 2024-epoch magnitudes and shift 1 us.
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_nanos div 1000").alias("tus")
    )
    s = sessionize(
        e, "user_id", "tus", gap=1_800_000_000, tiebreak_col="event_id"
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("tus").alias("start_us"),
        F.max("tus").alias("end_us"),
    )


# ---------------------------------------------------------------------------
# Time-range rolling window (RANGE frame): per-user trailing-10-minute
# event count and mean — the telemetry "rolling rate" shape, distinct
# from tumbling/sliding windows (every EVENT gets its own trailing
# frame, not a fixed grid).  The frame is keyed directly on the raw
# nanosecond longs (no float conversion: ns since epoch exceed 2^53, a
# double round-trip would corrupt them); the mean goes through the
# decimal-sum pattern, so the frame's accumulation order can't leak in.
# One shuffle on user_id; the sort inside the window serves both aggs.
# ---------------------------------------------------------------------------
@register(
    "rolling_10min_user_stats",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_10min,
           FLOOR(CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w * 10000.0 + 0.5) / 10000.0 AS avg_10min
    FROM (SELECT event_id, user_id, value, epoch_ns(ts) AS tns FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tns
                 RANGE BETWEEN 600000000000 PRECEDING AND CURRENT ROW)
    """,
    doc="per-event trailing-10-minute count/mean via RANGE frame on nanosecond longs",
)
def q_rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts_nanos"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_nanos")
        .rangeBetween(-600_000_000_000, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    s = dsum(F.col("value"), 6).over(w)
    return e.select(
        "event_id",
        "user_id",
        n.alias("n_10min"),
        dround(s.cast("double") / n, 4).alias("avg_10min"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection: median-absolute-deviation outliers per event
# type.  Two exact-percentile passes + a conditional count; the group
# medians are broadcast back to the fact side, so the events table never
# shuffles — at 100 TB swap `percentile` for `approx_percentile` (same
# plan shape, sketch-mergeable) as in approx_distinct_and_quantiles.
# ---------------------------------------------------------------------------
@register(
    "value_outliers_mad",
    """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           FLOOR(min(d.med) * 1000000.0 + 0.5) / 1000000.0 AS med,
           FLOOR(min(ma.mad) * 1000000.0 + 0.5) / 1000000.0 AS mad,
           CAST(COUNT(CASE WHEN d.adev > 3 * 1.4826 * ma.mad THEN 1 END) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad ma USING (event_type)
    GROUP BY d.event_type
    """,
    doc="robust outlier counts per event type via median absolute deviation (3·1.4826·MAD fence)",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    fence = F.lit(3) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            dround(F.min("med"), 6).alias("med"),
            dround(F.min("mad"), 6).alias("mad"),
            F.count(F.when(F.col("adev") > fence, F.lit(1))).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot (wide dashboard table; compiles to a single-pass conditional agg)
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "event_type_pivot",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
    doc="pivot: daily × event-type count matrix (explicit value list ⇒ no extra distinct pass)",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (day, type) cell had no rows; the oracle's
    # FILTER counts yield 0 — align.
    return out.select(
        "d", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# Skew-guard aggregation: salted two-phase groupBy, semantics identical
# to the plain aggregate (the oracle is the plain GROUP BY).
# ---------------------------------------------------------------------------
@register(
    "salted_user_totals",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="salted two-phase aggregation (skew guard) — result identical to plain groupBy",
)
def q_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        ["user_id"],
        {"n": F.count(F.lit(1)), "total_value": dsum(F.col("value"), 6)},
        salt_buckets=16,
    )
    return out.select(
        "user_id", "n", F.col("total_value").cast("double").alias("total_value")
    )


# ---------------------------------------------------------------------------
# SQL surface: ONE ANSI query string executed verbatim by BOTH engines
# (Catalyst here, DuckDB as the oracle) — the engine's `spark.sql` API.
# ---------------------------------------------------------------------------
_SHARED_SQL_REVENUE = """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@register(
    "sql_revenue_by_nation",
    _SHARED_SQL_REVENUE,
    doc="SQL API surface: identical ANSI text runs on Catalyst and the DuckDB oracle",
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql import sql

    return sql(spark, sf_dir, _SHARED_SQL_REVENUE)


# ---------------------------------------------------------------------------
# P5/P7 — row & field cleaning: drop all-null rows, normalize empty
# strings to NULL (the reference drops all-empty Excel rows, pro.py:41,
# and prunes None/'' fields before send, pro.py:76).
# ---------------------------------------------------------------------------
@register(
    "clean_rows",
    """
    SELECT c_custkey,
           CASE WHEN trim(c_mktsegment) = '' THEN NULL
                ELSE c_mktsegment END AS segment_n,
           c_acctbal
    FROM customer
    WHERE NOT (c_name IS NULL AND c_mktsegment IS NULL AND c_acctbal IS NULL)
    """,
    doc="P5 all-null row drop + P7 empty-string→NULL normalization",
)
def q_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cleaned = c.select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    ).na.drop(how="all", subset=["c_name", "c_mktsegment", "c_acctbal"])
    return cleaned.select(
        "c_custkey",
        F.when(F.trim(F.col("c_mktsegment")) == "", None)
        .otherwise(F.col("c_mktsegment"))
        .alias("segment_n"),
        "c_acctbal",
    )


# ---------------------------------------------------------------------------
# J1 — substring-prefix broadcast lookup (reference cohort map: first 3
# chars of the student id → intake year, app.py:15-21,86).  Here: first
# two letters of the market segment → cohort label.
# ---------------------------------------------------------------------------
_SEG_PREFIX_DIM = [
    ("AU", "K46"),
    ("BU", "K47"),
    ("FU", "K48"),
    ("HO", "K49"),
    ("MA", "K50"),
]
_SEG_PREFIX_SQL = ", ".join(f"('{p}', '{z}')" for p, z in _SEG_PREFIX_DIM)


@register(
    "prefix_cohort_join",
    f"""
    SELECT c.c_custkey, d.cohort,
           CAST(COUNT(*) OVER (PARTITION BY d.cohort) AS BIGINT) AS cohort_n
    FROM customer c
    LEFT JOIN (VALUES {_SEG_PREFIX_SQL}) d(prefix, cohort)
      ON substr(c.c_mktsegment, 1, 2) = d.prefix
    """,
    doc="J1 substring-prefix broadcast dim lookup (cohort map analog, app.py:15-21,86)",
)
def q_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.relational import broadcast_lookup

    c = load_table(spark, sf_dir, "customer")
    dim = spark.createDataFrame(_SEG_PREFIX_DIM, "prefix string, cohort string")
    out = broadcast_lookup(
        c, dim, F.substring(F.col("c_mktsegment"), 1, 2) == dim.prefix, "left"
    )
    return out.select(
        "c_custkey",
        "cohort",
        F.count(F.lit(1)).over(Window.partitionBy("cohort")).alias("cohort_n"),
    )


# ---------------------------------------------------------------------------
# Data profiling via unpivot (melt): per-column nulls / distincts /
# min / max in one pass — the training-data triage table.
# ---------------------------------------------------------------------------
@register(
    "table_profile",
    """
    WITH p AS (
        SELECT 'event_type' AS col, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT(event_type) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct,
               MIN(event_type) AS min_s, MAX(event_type) AS max_s
        FROM events
        UNION ALL
        SELECT 'props', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(props) AS BIGINT),
               CAST(COUNT(DISTINCT props) AS BIGINT),
               MIN(props), MAX(props)
        FROM events
    )
    SELECT * FROM p
    """,
    doc="per-column profile (count/nulls/distinct/min/max) — melt/unpivot shape",
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    melted = e.unpivot(
        [], ["event_type", "props"], "col", "val"
    )
    return melted.groupBy("col").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
        F.countDistinct("val").alias("n_distinct"),
        F.min("val").alias("min_s"),
        F.max("val").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# §2.9 applyInPandas grouped-map: per-user EWMA — recursively defined,
# beyond any SQL window; oracle = recursive CTE running the identical
# IEEE arithmetic (alpha*x + (1-alpha)*prev).
# ---------------------------------------------------------------------------
@register(
    "ewma_user_values",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ew(user_id, event_id, rn, ewma) AS (
        SELECT user_id, event_id, rn, value FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.rn,
               0.25 * o.value + (1 - 0.25) * e.ewma
        FROM ordered o JOIN ew e
          ON o.user_id = e.user_id AND o.rn = e.rn + 1
    )
    SELECT user_id, event_id,
           FLOOR(ewma * 1000000.0 + 0.5) / 1000000.0 AS ewma
    FROM ew
    """,
    doc="applyInPandas grouped-map EWMA per user (recursive smoothing ⇔ recursive-CTE oracle, bit-identical IEEE arithmetic)",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma_by_key

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_nanos", "value"
    )
    out = ewma_by_key(
        e,
        key="user_id",
        order_cols=["ts_nanos", "event_id"],
        value_col="value",
        alpha=0.25,
        out_cols=["user_id", "event_id"],
    )
    return out.select("user_id", "event_id", dround(F.col("ewma"), 6).alias("ewma"))


# ---------------------------------------------------------------------------
# Hypertable-style resample: time_bucket_gapfill + locf composed from
# native ops (bucket-agg → generated spine → left join → forward fill).
# ---------------------------------------------------------------------------
@register(
    "resample_10min_gapfill",
    """
    WITH agg AS (
        SELECT user_id, time_bucket(INTERVAL 10 MINUTE, ts) AS mb,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) / COUNT(*)
                     * 10000.0 + 0.5) / 10000.0 AS v
        FROM events GROUP BY user_id, time_bucket(INTERVAL 10 MINUTE, ts)
    ), spine AS (
        SELECT user_id,
               unnest(generate_series(mn, mx, INTERVAL 10 MINUTE)) AS mb
        FROM (SELECT user_id, min(mb) AS mn, max(mb) AS mx FROM agg GROUP BY user_id)
    )
    SELECT s.user_id,
           strftime(s.mb, '%Y-%m-%d %H:%M:%S') AS bucket,
           last_value(a.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.mb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value,
           (a.v IS NULL) AS is_gap
    FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.mb = a.mb
    """,
    doc="per-user 10-min resample with generated gap rows and forward fill (time_bucket_gapfill + locf shape)",
)
def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import resample_gapfill

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = resample_gapfill(e, "user_id", "ts", "value", step="10 minutes")
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "value",
        "is_gap",
    )


# ---------------------------------------------------------------------------
# Shared-ANSI SQL suite over the previously-unexercised part/supplier
# tables — each query is ONE SQL text executed verbatim by Catalyst and
# by the DuckDB oracle.
# ---------------------------------------------------------------------------
_SHARED_SQL_PROMO = """
    SELECT p.p_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           FLOOR(CAST(SUM(CAST(l.l_quantity AS DECIMAL(22,4))) AS DOUBLE)
                 / COUNT(*) * 1e4 + 0.5e0) / 1e4 AS avg_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type
"""
# NOTE: decimal-pointed literals (10000.0) parse as DECIMAL in Spark SQL
# but the FLOOR quantization needs pure-DOUBLE arithmetic — scientific
# notation (1e4) is DOUBLE in both engines.


@register(
    "sql_promo_revenue_by_type",
    _SHARED_SQL_PROMO,
    doc="lineitem⋈part revenue by part type (broadcast dim join; shared ANSI text on both engines)",
)
def q_sql_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql import sql

    return sql(spark, sf_dir, _SHARED_SQL_PROMO)


_SHARED_SQL_SUPPLIER = """
    SELECT n.n_name,
           CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@register(
    "sql_supplier_revenue_by_nation",
    _SHARED_SQL_SUPPLIER,
    doc="lineitem⋈supplier⋈nation revenue + distinct-supplier counts per nation",
)
def q_sql_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql import sql

    return sql(spark, sf_dir, _SHARED_SQL_SUPPLIER)


_SHARED_SQL_SHIPPING = """
    SELECT l.l_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(22,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 20
"""


@register(
    "sql_shipping_priority_topk",
    _SHARED_SQL_SHIPPING,
    doc="Q3-shaped shipping priority: join + filter + grouped revenue + deterministic top-k",
)
def q_sql_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql import sql

    return sql(spark, sf_dir, _SHARED_SQL_SHIPPING)


# ---------------------------------------------------------------------------
# Reference-domain pipeline in the driver gate: the app.py analytics
# over the reference's OWN schema, on a deterministic inline dataset —
# the oracle replicates the full pipeline in pure SQL over the same
# VALUES, so the gate checks reference-exact semantics end-to-end.
# ---------------------------------------------------------------------------
_REF_ROWS_SQL = """
    (VALUES
      ('B2010001','CT101','Giai tich','3','DI20A',20231,'9.0','100','2020'),
      ('B2010001','CT102','Vat ly','2','DI20A',20232,'6.5','100','2020'),
      ('B2010001','CT103','Mon sao *','3','DI20A',20232,'8.0','100','2020'),
      ('B2010001','CT104','Hoa hoc','4','DI20A',20231,'3.9','100','2020'),
      ('B2010001','CT105','Do an','2','DI20A',20251,'9.5','120','2020'),
      ('B2230002','AV201','Anh van','5','FL22B',20241,'8.0','141','2022'),
      ('B2450003','CT301','Mang may tinh','abc','DI24C',20241,'2.0','10','2024')
    ) r(F_MASV,F_MAMH,F_TENMHVN,F_DVHT,F_TENLOP,NHHK,F_DIEM2,F_TCDTTL,F_KHOAHOC)
"""


@register(
    "reference_domain_report",
    f"""
    WITH rec AS (
        SELECT F_MASV, F_MAMH, F_TENMHVN,
               TRY_CAST(F_DVHT AS DOUBLE) AS dvht,
               F_TENLOP, NHHK,
               TRY_CAST(F_DIEM2 AS DOUBLE) AS diem2,
               TRY_CAST(F_TCDTTL AS DOUBLE) AS tcdttl,
               ROW_NUMBER() OVER (ORDER BY F_MASV, F_MAMH) AS rn
        FROM {_REF_ROWS_SQL}
    ),
    graded AS (
        SELECT *,
               CASE WHEN diem2 >= 9.0 THEN 4.0 WHEN diem2 >= 8.0 THEN 3.5
                    WHEN diem2 >= 7.0 THEN 3.0 WHEN diem2 >= 6.5 THEN 2.5
                    WHEN diem2 >= 5.5 THEN 2.0 WHEN diem2 >= 5.0 THEN 1.5
                    WHEN diem2 >= 4.0 THEN 1.0 ELSE 0.0 END AS diem4,
               (diem2 >= 4.0 AND NOT contains(F_TENMHVN, '*')
                AND NHHK <> 20251) AS passed
        FROM rec
    ),
    per_student AS (
        SELECT F_MASV,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MAX(CASE WHEN F_TENLOP LIKE 'DI%' THEN 1 ELSE 0 END) AS is_mmt,
               MAX(CASE WHEN F_TENLOP LIKE 'FL%' THEN 1 ELSE 0 END) AS is_nna,
               SUM(CASE WHEN passed THEN diem4 * dvht ELSE 0.0 END) AS pts,
               SUM(CASE WHEN passed THEN dvht ELSE 0.0 END) AS cr,
               arg_max(tcdttl, rn) AS credits_completed
        FROM graded GROUP BY F_MASV
    ),
    dims AS (
        SELECT s.*,
               CASE WHEN is_mmt = 1 THEN 'MMT'
                    WHEN is_nna = 1 THEN 'NNA' END AS nganh,
               CASE substr(F_MASV, 1, 3)
                    WHEN 'B20' THEN 46 WHEN 'B21' THEN 47 WHEN 'B22' THEN 48
                    WHEN 'B23' THEN 49 WHEN 'B24' THEN 50 END AS khoa
        FROM per_student s
    ),
    prog AS (
        SELECT d.*,
               CASE WHEN nganh = 'NNA' THEN 141
                    WHEN nganh = 'MMT' AND khoa <= 47 THEN 156
                    WHEN nganh = 'MMT' THEN 161 END AS total_credits,
               CASE WHEN nganh = 'NNA' THEN 12 ELSE 13 END AS total_semesters
        FROM dims d
    )
    SELECT F_MASV, nganh, khoa, n_rows,
           FLOOR(CASE WHEN cr > 0 THEN pts / cr ELSE 0.0 END * 1e4 + 0.5e0)
               / 1e4 AS dtbctl,
           credits_completed,
           CAST(total_credits AS INT) AS total_credits,
           total_credits - COALESCE(credits_completed, 0.0)
               AS remaining_credits,
           CAST(total_semesters - (2024 - (2020 + khoa - 46)) * 3 AS INT)
               AS remaining_semesters,
           CASE WHEN total_credits - COALESCE(credits_completed, 0.0) <= 0
                THEN 'completed'
                WHEN total_credits - COALESCE(credits_completed, 0.0)
                     <= (total_semesters - (2024 - (2020 + khoa - 46)) * 3) * 20
                THEN 'on_track' ELSE 'behind' END AS status
    FROM prog
    """,
    doc="reference-exact app.py pipeline over the reference's own schema (inline VALUES dataset, full-SQL oracle)",
)
def q_reference_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from ..plans.reference_domain import student_progress_report

    rows = [
        ("B2010001", "CT101", "Giai tich", "3", "DI20A", 20231, "9.0", "100", "2020"),
        ("B2010001", "CT102", "Vat ly", "2", "DI20A", 20232, "6.5", "100", "2020"),
        ("B2010001", "CT103", "Mon sao *", "3", "DI20A", 20232, "8.0", "100", "2020"),
        ("B2010001", "CT104", "Hoa hoc", "4", "DI20A", 20231, "3.9", "100", "2020"),
        ("B2010001", "CT105", "Do an", "2", "DI20A", 20251, "9.5", "120", "2020"),
        ("B2230002", "AV201", "Anh van", "5", "FL22B", 20241, "8.0", "141", "2022"),
        ("B2450003", "CT301", "Mang may tinh", "abc", "DI24C", 20241, "2.0", "10", "2024"),
    ]
    # @timestamp mirrors the oracle's rn order (sorted by F_MASV, F_MAMH)
    ordered = sorted(rows, key=lambda r: (r[0], r[1]))
    with_ts = [
        r + (dt.datetime(2024, 1, 1, 0, 0, i),) for i, r in enumerate(ordered)
    ]
    records = spark.createDataFrame(
        with_ts,
        "F_MASV string, F_MAMH string, F_TENMHVN string, F_DVHT string, "
        "F_TENLOP string, NHHK int, F_DIEM2 string, F_TCDTTL string, "
        "F_KHOAHOC string, `@timestamp` timestamp",
    )
    out = student_progress_report(spark, records)
    return out.select(
        "F_MASV", "nganh", "khoa", "n_rows", "dtbctl", "credits_completed",
        F.col("total_credits").cast("int").alias("total_credits"),
        "remaining_credits",
        F.col("remaining_semesters").cast("int").alias("remaining_semesters"),
        "status",
    )


# ---------------------------------------------------------------------------
# Approximate aggregates — the scale path for dashboard distincts and
# quantiles (exact distinct shuffles every key; HLL sketches merge in
# fixed space).  Rows-only in the driver gate (sketch internals are
# engine-specific); error bounds vs the exact answers are pinned in
# tests/test_northstar_ops.py.  Quantiles come back as SCALAR columns
# (p50/p95), never array<double> — the driver's canonical compare sorts
# the frame in pandas and array cells are unhashable there.
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_and_quantiles",
    None,
    doc="HLL approx_count_distinct + approx_percentile per event type (error bounds pinned in tests)",
)
def q_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pcts = F.percentile_approx("value", [0.5, 0.95], 10000)
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        pcts.getItem(0).alias("approx_p50"),
        pcts.getItem(1).alias("approx_p95"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Correlated-subquery shapes (TPC-H Q17/Q18/Q22/Q4 silhouettes on the
# driver fixtures).  The reference has no subqueries at all, but the
# capability class (interactive relational analytics) implies them; in
# Spark each decorrelates into an aggregate + join the optimizer can
# place — the per-group aggregate is computed once and broadcast/shuffled
# instead of re-evaluated per outer row.  Double sums go through
# DECIMAL (dsum) so values hash-match the oracle bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "small_qty_part_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(22,4))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < 0.5 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
                                WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="Q17 shape: correlated scalar AVG decorrelated to one per-part aggregate, "
    "computed on the brand-filtered slice only (same groups, ~25x less input)",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    # Semi-reduce lineitem to the brand's parts first: the per-part AVG over
    # the slice equals the AVG over all of lineitem (grouping key = the
    # filter key), so the heavy aggregate runs on 1/|brands| of the data.
    brand_li = li.join(
        F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    # l_quantity is integer-valued → sum/avg are exact in double on any engine.
    avg_qty = brand_li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        brand_li.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "big_qty_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(22,4))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, big.total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="Q18 shape: HAVING-filtered IN-subquery folded into one aggregate that "
    "serves as both the filter and the projected total (lineitem scanned once)",
)
def q_big_qty_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
        .select(
            F.col("l_orderkey"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )
    # After the HAVING filter `big` is a sliver of the order keys →
    # broadcast it into both probe joins; no shuffle of orders/customer.
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@register(
    "rich_idle_customers",
    """
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(22,4))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(22,4))) AS DOUBLE)
                                / COUNT(*)
                         FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    GROUP BY c.c_mktsegment
    """,
    doc="Q22 shape: scalar-subquery threshold broadcast to every row + anti join "
    "against the (pre-filtered, broadcastable) big-ticket orders",
)
def q_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # Exact threshold: decimal sum / count — one double division at the edge,
    # bit-identical across engines (a raw AVG(double) is partition-order
    # dependent in the last ulp and could flip boundary rows).
    cutoff = cust.filter(F.col("c_acctbal") > 0).agg(
        (dsum(F.col("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    big_orders = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        cust.join(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(F.broadcast(big_orders), cust.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "late_ship_priority_counts",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
    doc="Q4 shape: EXISTS with a non-equi residual → left-semi hash join on the "
    "equi key; the quarter filter prunes orders before the join",
)
def q_late_ship_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    quarter = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = quarter.join(
        li,
        (quarter.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > quarter.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Ordered funnel + period-over-period — the two dashboard shapes (A7
# family) the Kibana surface implies but the reference computes nowhere.
# ---------------------------------------------------------------------------
@register(
    "funnel_view_click_purchase",
    """
    WITH h0 AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS hit0
        FROM events
    ), h1 AS (
        SELECT *, CASE WHEN event_type = 'click'
                        AND COALESCE(MAX(hit0) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
                       THEN 1 ELSE 0 END AS hit1
        FROM h0
    ), h2 AS (
        SELECT *, CASE WHEN event_type = 'purchase'
                        AND COALESCE(MAX(hit1) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
                       THEN 1 ELSE 0 END AS hit2
        FROM h1
    ), per_user AS (
        SELECT user_id,
               GREATEST(0, MAX(hit0 * 1), MAX(hit1 * 2), MAX(hit2 * 3)) AS stage
        FROM h2 GROUP BY user_id
    ), by_stage AS (
        SELECT stage, CAST(COUNT(*) AS BIGINT) AS n FROM per_user GROUP BY stage
    ), steps(step, step_name) AS (
        VALUES (1, 'view'), (2, 'click'), (3, 'purchase')
    ), reached AS (
        SELECT s.step, s.step_name, COALESCE(SUM(b.n), 0) AS users_reached
        FROM steps s LEFT JOIN by_stage b ON b.stage >= s.step
        GROUP BY s.step, s.step_name
    )
    SELECT CAST(step AS INT) AS step, step_name,
           CAST(users_reached AS BIGINT) AS users_reached,
           CAST(users_reached AS DOUBLE)
               / FIRST_VALUE(users_reached) OVER (ORDER BY step) AS conversion
    FROM reached
    """,
    doc="exact ordered funnel view→click→purchase: stacked prefix-max windows over "
    "one (user, ts) shuffle — catches re-occurrences the min-per-type shortcut misses",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sequential_funnel

    events = load_table(spark, sf_dir, "events")
    out = sequential_funnel(events, ["view", "click", "purchase"])
    return out.select(
        F.col("step").cast("int").alias("step"),
        "step_name",
        "users_reached",
        "conversion",
    )


@register(
    "monthly_revenue_mom",
    """
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
           (revenue - LAG(revenue) OVER (ORDER BY month))
               / LAG(revenue) OVER (ORDER BY month) AS mom_change
    FROM m
    """,
    doc="period-over-period: monthly revenue with LAG delta ratio; the global window "
    "runs on the already-aggregated handful of month rows, not the fact table",
)
def q_monthly_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        # DuckDB's date_trunc('month') yields DATE; match the type so the
        # driver's value hash agrees.
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(dsum(F.col("o_totalprice")).cast("double").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("mom_change"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (shared ANSI text): cube/rollup's general form, with
# GROUPING() flags disambiguating "grouped-out" from a genuinely NULL
# key.  Catalyst expands the sets into one Expand + single aggregate —
# one pass over the joined input, not one scan per set.
# ---------------------------------------------------------------------------
_SHARED_SQL_GROUPING_SETS = """
    SELECT r.r_name, o.o_orderpriority,
           CAST(GROUPING(r.r_name) AS INT) AS g_region,
           CAST(GROUPING(o.o_orderpriority) AS INT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(22,4))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name, o.o_orderpriority), (r.r_name),
                            (o.o_orderpriority), ())
"""


@register(
    "sql_grouping_sets_revenue",
    _SHARED_SQL_GROUPING_SETS,
    doc="GROUPING SETS with GROUPING() flags — identical ANSI text on both engines, one Expand+aggregate pass",
)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql import sql

    return sql(spark, sf_dir, _SHARED_SQL_GROUPING_SETS)


# ---------------------------------------------------------------------------
# Q21 shape — "suppliers who kept waiting orders": the classic double
# correlated subquery (EXISTS another supplier in the order, NOT EXISTS
# another LATE supplier in the order) over a fact-table self-join.  The
# reference has no join at all (SURVEY §2.3); this is the hardest shape
# its capability class implies.  Spark-first rewrite: instead of two
# self-joins (three shuffles of lineitem + quadratic skew risk on big
# orders), fold both existence tests into ONE per-order aggregate —
# n_suppliers, n_late_suppliers, and (when unique) the late supplier —
# then re-aggregate by supplier.  Two shuffles total, each a shrinking
# aggregation; the oracle keeps the textbook EXISTS/NOT EXISTS form to
# prove the rewrite equivalent.  Lateness is derived from l_shipdate vs
# o_orderdate (+60d) because the fixtures carry no l_receiptdate.
# ---------------------------------------------------------------------------
@register(
    "only_late_supplier_waits",
    """
    WITH lo AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT s.s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lo l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late = 1
      AND EXISTS (SELECT 1 FROM lo l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late = 1)
    GROUP BY s.s_name
    """,
    doc="Q21 shape: double-correlated EXISTS/NOT EXISTS self-join, rewritten "
    "as one per-order aggregate + one per-supplier aggregate (two shrinking "
    "shuffles, no self-join)",
)
def q_only_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # collect_set instead of two countDistincts: multiple distinct
    # aggregates plan as an Expand (3x the join output re-shuffled on a
    # wide key); per-order supplier sets are tiny (TPC-H orders have <=7
    # lines), so set-aggregate them in one exchange on l_orderkey with
    # map-side partials.
    per_order = lo.groupBy("l_orderkey").agg(
        F.size(F.collect_set("l_suppkey")).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey")))
        ).alias("n_late_supp"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    waits = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        waits.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))  # one row per order already
        .join(F.broadcast(sup), F.col("late_supp") == sup.s_suppkey)
        .select("s_name", "numwait")
    )


# ---------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue: aggregate → global
# scalar MAX → equality join-back, returning ALL argmax ties (the classic
# view + scalar-subquery form).  Spark-first: the max of the aggregated
# frame is broadcast-joined back (tiny single-row build side) instead of
# an all-to-one window sort; revenue is an exact decimal sum so the
# cross-engine equality on the max is safe.
# ---------------------------------------------------------------------------
@register(
    "top_supplier_revenue",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(22,4))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="Q15 shape: aggregate → scalar MAX subquery → join-back keeping all "
    "argmax ties; max row broadcast back instead of a global window sort",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(F.broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# CDC op-log apply + SCD2 — the reference's upsert (con.py:55-63, J4)
# only ever overwrites by `_id`; the full CDC vocabulary a warehouse
# sink needs is insert/update/DELETE resolution (latest op per key
# wins) and type-2 history (validity intervals instead of overwrite).
# Both are one shuffle on the key.  The events table stands in as the
# op log: event_type 'purchase' plays the delete op / the changing
# dimension attribute.
# ---------------------------------------------------------------------------
@register(
    "cdc_apply_latest",
    """
    WITH ops AS (
        SELECT user_id, epoch_us(ts) AS tus, event_id, value,
               CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
        FROM events
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY tus DESC, event_id DESC) AS rn
        FROM ops
    )
    SELECT user_id, CAST(tus AS BIGINT) AS last_us, value AS last_value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC apply: latest insert/update/delete op per key wins, winning "
    "delete removes the key (J4 generalized to the full op set)",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import apply_cdc_ops

    ops = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_nanos div 1000").alias("tus"),
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    applied = apply_cdc_ops(ops, ["user_id"], ["tus", "event_id"], "op", "D")
    return applied.select(
        "user_id",
        F.col("tus").alias("last_us"),
        F.col("value").alias("last_value"),
    )


@register(
    "scd2_user_state",
    """
    WITH o AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events
    ), c AS (
        SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY tus, event_id) AS prev
        FROM o
    ), ch AS (
        SELECT * FROM c WHERE prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type,
           CAST(tus AS BIGINT) AS valid_from_us,
           CAST(lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                AS BIGINT) AS valid_to_us,
           lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
               AS is_current
    FROM ch
    """,
    doc="SCD type 2: run-compressed attribute changes -> [valid_from, "
    "valid_to) intervals per key, NULL-open current row; one shuffle "
    "(run-compress filter preserves the window partitioning)",
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import scd2_intervals

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_nanos div 1000").alias("tus"),
        "event_type",
    )
    iv = scd2_intervals(e, ["user_id"], "event_type", "tus", "event_id")
    return iv.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "is_current",
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch — oracle-checked end to end via the
# portable md5-prefix hash (operators/sketches.py): registers are
# integer-exact on both engines and the raw-HLL estimate is a single
# shared IEEE division.  The 100 TB story: COUNT(DISTINCT) shuffles
# every distinct key; the register table is 2^p rows, merges with MAX,
# and one map pass builds it.
# ---------------------------------------------------------------------------
@register(
    "hll_distinct_users",
    """
    WITH h AS (
        SELECT ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
        FROM events
    ), br AS (
        SELECT hv & 15 AS bucket,
               CASE WHEN (hv >> 4) = 0 THEN 57
                    ELSE 57 - LENGTH(bin(hv >> 4)) END AS rho
        FROM h
    ), regs AS (
        SELECT bucket, MAX(rho) AS register FROM br GROUP BY bucket
    ), s AS (
        SELECT COUNT(*) AS nb, SUM(1::BIGINT << (57 - register)) AS observed
        FROM regs
    )
    SELECT CAST(nb AS BIGINT) AS n_buckets,
           CAST(observed + (16 - nb) * (1::BIGINT << 57) AS BIGINT) AS sum_scaled,
           FLOOR(((0.673 * 256.0) * POWER(2.0, 57.0))
                 / CAST(observed + (16 - nb) * (1::BIGINT << 57) AS DOUBLE)
                 * 1000.0 + 0.5) / 1000.0 AS est_distinct
    FROM s
    """,
    doc="HLL(p=4) distinct-user sketch: portable-hash registers + raw "
    "estimate, both hash-compared against the identical DuckDB algorithm",
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_estimate, hll_registers

    e = load_table(spark, sf_dir, "events")
    regs = hll_registers(e, F.col("user_id"), p=4)
    return hll_estimate(regs, p=4)


@register(
    "hll_distinct_users_by_type",
    """
    WITH h AS (
        SELECT event_type,
               ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
        FROM events
    ), br AS (
        SELECT event_type, hv & 15 AS bucket,
               CASE WHEN (hv >> 4) = 0 THEN 57
                    ELSE 57 - LENGTH(bin(hv >> 4)) END AS rho
        FROM h
    ), regs AS (
        SELECT event_type, bucket, MAX(rho) AS register
        FROM br GROUP BY event_type, bucket
    ), s AS (
        SELECT event_type, COUNT(*) AS nb,
               SUM(1::BIGINT << (57 - register)) AS observed
        FROM regs GROUP BY event_type
    )
    SELECT event_type, CAST(nb AS BIGINT) AS n_buckets,
           CAST(observed + (16 - nb) * (1::BIGINT << 57) AS BIGINT) AS sum_scaled,
           FLOOR(((0.673 * 256.0) * POWER(2.0, 57.0))
                 / CAST(observed + (16 - nb) * (1::BIGINT << 57) AS DOUBLE)
                 * 1000.0 + 0.5) / 1000.0 AS est_distinct
    FROM s
    """,
    doc="grouped HLL: one register table per group in the same two-level "
    "aggregation — per-group distinct estimates without a per-group "
    "distinct shuffle",
)
def q_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_estimate, hll_registers

    e = load_table(spark, sf_dir, "events")
    regs = hll_registers(e, F.col("user_id"), p=4, group_cols=["event_type"])
    return hll_estimate(regs, p=4, group_cols=["event_type"])


@register(
    "cms_heavy_users",
    """
    WITH vals AS (
        SELECT CAST(user_id AS VARCHAR) AS v FROM events
    ), keyed AS (
        SELECT v, unnest([0, 1, 2, 3]) AS row_i FROM vals
    ), sketch AS (
        SELECT row_i,
               ('0x'||substr(md5(row_i::VARCHAR||':'||v),1,15))::BIGINT % 64
                   AS pos,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM keyed GROUP BY 1, 2
    ), probes AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
    ), pe AS (
        SELECT k, unnest([0, 1, 2, 3]) AS row_i FROM probes
    ), pos_ AS (
        SELECT k, row_i,
               ('0x'||substr(md5(row_i::VARCHAR||':'||k),1,15))::BIGINT % 64
                   AS pos
        FROM pe
    ), est AS (
        SELECT p.k, MIN(COALESCE(s.cnt, 0)) AS est_count
        FROM pos_ p LEFT JOIN sketch s
          ON p.row_i = s.row_i AND p.pos = s.pos
        GROUP BY p.k
    )
    SELECT CAST(k AS BIGINT) AS user_id, CAST(est_count AS BIGINT) AS est_count
    FROM est WHERE est_count >= 100
    """,
    doc="count-min heavy hitters: portable-hash integer counters "
    "(4x64), SUM-mergeable, broadcast probe — build and probe both "
    "oracle-checked",
)
def q_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_build, cms_lookup

    e = load_table(spark, sf_dir, "events")
    sketch = cms_build(e, F.col("user_id"), depth=4, width=64)
    est = cms_lookup(sketch, e, F.col("user_id"), depth=4, width=64)
    return est.filter(F.col("est_count") >= 100).select(
        F.col("k").cast("long").alias("user_id"),
        F.col("est_count").cast("long").alias("est_count"),
    )


@register(
    "hll_user_overlap",
    """
    WITH base AS (
        SELECT event_type,
               ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
        FROM events WHERE event_type IN ('view', 'purchase')
    ), br AS (
        SELECT event_type, hv & 15 AS bucket,
               CASE WHEN (hv >> 4) = 0 THEN 57
                    ELSE 57 - LENGTH(bin(hv >> 4)) END AS rho
        FROM base
    ), regs AS (
        SELECT event_type, bucket, MAX(rho) AS register
        FROM br GROUP BY event_type, bucket
    ), tagged AS (
        SELECT 'a' AS part, bucket, register FROM regs WHERE event_type = 'view'
        UNION ALL
        SELECT 'b', bucket, register FROM regs WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'u', bucket, MAX(register) FROM regs GROUP BY bucket
    ), s AS (
        SELECT part, COUNT(*) AS nb,
               SUM(1::BIGINT << (57 - register)) AS observed
        FROM tagged GROUP BY part
    ), e AS (
        SELECT part,
               FLOOR(((0.673 * 256.0) * POWER(2.0, 57.0))
                     / CAST(observed + (16 - nb) * (1::BIGINT << 57) AS DOUBLE)
                     * 1000.0 + 0.5) / 1000.0 AS est
        FROM s
    )
    SELECT MAX(CASE WHEN part = 'a' THEN est END) AS est_view,
           MAX(CASE WHEN part = 'b' THEN est END) AS est_purchase,
           MAX(CASE WHEN part = 'u' THEN est END) AS est_union,
           (MAX(CASE WHEN part = 'a' THEN est END)
            + MAX(CASE WHEN part = 'b' THEN est END))
           - MAX(CASE WHEN part = 'u' THEN est END) AS est_overlap
    FROM e
    """,
    doc="HLL set algebra: union = register MAX-merge, intersection via "
    "inclusion-exclusion over three estimates — audience-overlap style "
    "sketch query, one scan",
)
def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_estimate, hll_merge, hll_registers

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    regs = hll_registers(e, F.col("user_id"), p=4, group_cols=["event_type"])
    a = (
        regs.filter(F.col("event_type") == "view")
        .select("bucket", "register")
        .withColumn("part", F.lit("a"))
    )
    b = (
        regs.filter(F.col("event_type") == "purchase")
        .select("bucket", "register")
        .withColumn("part", F.lit("b"))
    )
    u = hll_merge(regs.select("bucket", "register")).withColumn(
        "part", F.lit("u")
    )
    ests = hll_estimate(
        a.unionByName(b).unionByName(u), p=4, group_cols=["part"]
    )
    wide = ests.groupBy().agg(
        F.max(F.when(F.col("part") == "a", F.col("est_distinct"))).alias(
            "est_view"
        ),
        F.max(F.when(F.col("part") == "b", F.col("est_distinct"))).alias(
            "est_purchase"
        ),
        F.max(F.when(F.col("part") == "u", F.col("est_distinct"))).alias(
            "est_union"
        ),
    )
    return wide.withColumn(
        "est_overlap",
        (F.col("est_view") + F.col("est_purchase")) - F.col("est_union"),
    )


@register(
    "bloom_pruned_revenue",
    """
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(22,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 280000
    GROUP BY l.l_returnflag
    """,
    doc="Bloom-filter runtime join pruning: filter built from the selective "
    "dim side, probed on the fact side BEFORE the join shuffle; exact join "
    "culls false positives so the result is identical to the plain join "
    "(which is what the oracle runs)",
)
def q_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_pruned_join

    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 280000)
        )
        .select("o_orderkey")
    )
    joined = bloom_pruned_join(li, dim, "l_orderkey", "o_orderkey")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6), 2)
        .cast("double")
        .alias("revenue"),
    )


@register(
    "cust_order_distribution",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="Q13 shape: left outer join with a join-side residual predicate + "
    "two-level aggregate — order-count distribution including zero-order "
    "customers (the rows an inner join would lose)",
)
def q_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "cohort_retention_weekly",
    """
    WITH uw AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events),
    c AS (
        SELECT user_id, wk,
               MIN(wk) OVER (PARTITION BY user_id) AS cohort_wk
        FROM uw),
    r AS (
        SELECT cohort_wk,
               CAST(datediff('day', cohort_wk, wk) // 7 AS INT) AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS active_users
        FROM c GROUP BY cohort_wk, week_offset)
    SELECT cohort_wk, week_offset, active_users,
           MAX(CASE WHEN week_offset = 0 THEN active_users END)
               OVER (PARTITION BY cohort_wk) AS cohort_size,
           FLOOR(CAST(active_users AS DOUBLE)
                 / MAX(CASE WHEN week_offset = 0 THEN active_users END)
                     OVER (PARTITION BY cohort_wk)
                 * 10000.0 + 0.5) / 10000.0 AS retention_pct
    FROM r
    """,
    doc="cohort retention matrix: first-seen week per user x weeks-since "
    "activity, with per-cohort retention rate — the A7 dashboard surface "
    "generalized; one user-shuffle (distinct + window share the partitioning)",
)
def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    c = uw.withColumn(
        "cohort_wk", F.min("wk").over(Window.partitionBy("user_id"))
    )
    r = c.groupBy(
        "cohort_wk",
        (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
        .cast("int")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("active_users"))
    wc = Window.partitionBy("cohort_wk")
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("active_users"))
    ).over(wc)
    return r.select(
        "cohort_wk",
        "week_offset",
        "active_users",
        size.alias("cohort_size"),
        dround(F.col("active_users").cast("double") / size, 4).alias(
            "retention_pct"
        ),
    )


@register(
    "fuzzy_pairs_editdist",
    """
    WITH d AS (
        SELECT doc_id, lang, n_chars // 32 AS lb, substr(text, 1, 60) AS head
        FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 20
    """,
    doc="fuzzy near-dup pairs via edit distance within (lang, length-bucket) "
    "blocks: the O(n^2) levenshtein only runs inside small blocks, never "
    "across the corpus — blocking turns quadratic matching into a "
    "self-equi-join; at 100 TB add the offset-by-half second block pass "
    "to catch boundary straddlers",
)
def q_fuzzy_pairs_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("n_chars div 32").alias("lb"),
        F.substring("text", 1, 60).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "lb",
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "lb",
        F.col("head").alias("head_b"),
    )
    return (
        a.join(b, ["lang", "lb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("head_a"), F.col("head_b")).cast("long"),
        )
        .filter(F.col("edit_dist") <= 20)
        .select("doc_a", "doc_b", "edit_dist")
    )


_RECONCILE_FP_SQL = (
    "('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||'|'||{status}||'|'||"
    "CAST(CAST(FLOOR(o_totalprice*100.0+0.5) AS BIGINT) AS VARCHAR)||'|'||"
    "o_orderpriority),1,15))::BIGINT"
)


@register(
    "table_diff_audit",
    f"""
    WITH a AS (
        SELECT o_orderkey AS k,
               {_RECONCILE_FP_SQL.format(status="o_orderstatus")} AS fp,
               ('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT
                   % 64 AS bucket
        FROM orders),
    b AS (
        SELECT o_orderkey AS k,
               {_RECONCILE_FP_SQL.format(
                   status="CASE WHEN o_orderkey % 97 = 0 THEN 'X' "
                   "ELSE o_orderstatus END")} AS fp,
               ('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT
                   % 64 AS bucket
        FROM orders WHERE o_orderkey % 101 <> 0),
    sa AS (SELECT bucket, COUNT(*) AS n, bit_xor(fp) AS cs FROM a GROUP BY bucket),
    sb AS (SELECT bucket, COUNT(*) AS n, bit_xor(fp) AS cs FROM b GROUP BY bucket),
    bad AS (
        SELECT COALESCE(sa.bucket, sb.bucket) AS bucket
        FROM sa FULL JOIN sb ON sa.bucket = sb.bucket
        WHERE sa.bucket IS NULL OR sb.bucket IS NULL
           OR sa.n <> sb.n OR sa.cs <> sb.cs),
    fa AS (SELECT * FROM a WHERE bucket IN (SELECT bucket FROM bad)),
    fb AS (SELECT * FROM b WHERE bucket IN (SELECT bucket FROM bad))
    SELECT COALESCE(fa.k, fb.k) AS o_orderkey,
           CASE WHEN fb.k IS NULL THEN 'deleted'
                WHEN fa.k IS NULL THEN 'added'
                ELSE 'changed' END AS diff_type
    FROM fa FULL JOIN fb ON fa.k = fb.k
    WHERE fb.k IS NULL OR fa.k IS NULL OR fa.fp <> fb.fp
    """,
    doc="Merkle-style snapshot reconciliation: per-bucket count+XOR "
    "checksums prune matching buckets, then only mismatched buckets' rows "
    "full-join to classify added/deleted/changed keys (replica drift "
    "simulated as in-place updates + deletes); oracle runs the identical "
    "two-phase algorithm",
)
def q_table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import reconcile_tables
    from ..operators.dedup import portable_hash64

    o = load_table(spark, sf_dir, "orders")

    def fingerprint(df, status):
        return df.select(
            F.col("o_orderkey").alias("k"),
            portable_hash64(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    status,
                    F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                    .cast("long")
                    .cast("string"),
                    F.col("o_orderpriority"),
                )
            ).alias("fp"),
        )

    a = fingerprint(o, F.col("o_orderstatus"))
    replica = o.filter(F.col("o_orderkey") % 101 != 0)
    b = fingerprint(
        replica,
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return reconcile_tables(a, b, n_buckets=64).select(
        F.col("k").alias("o_orderkey"), "diff_type"
    )


@register(
    "nation_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(22,6))), 2) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
               l_extendedprice, l_discount
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="Q7 shape: bidirectional two-nation trade volume by ship year — "
    "nation dim filtered to the pair BEFORE joining (broadcast both "
    "sides), so the disjunction collapses to a post-join inequality and "
    "only one big shuffle (lineitem x orders) remains",
)
def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ["NATION_1", "NATION_2"]
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                             F.col("n_name").alias("supp_nation"))),
        "s_nationkey",
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"),
                             F.col("n_name").alias("cust_nation"))),
        "c_nationkey",
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = (
        li.join(F.broadcast(s.select("s_suppkey", "supp_nation")),
                li["l_suppkey"] == F.col("s_suppkey"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.select("c_custkey", "cust_nation")),
              o["o_custkey"] == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            "l_extendedprice",
            "l_discount",
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6), 2
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "disjunctive_brand_revenue",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(22,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    doc="Q19 shape: OR-of-ANDs join predicate — the union bounds of each "
    "disjunct (brand IN set, size/quantity envelope) are manually "
    "CNF-extracted and pushed below the join as scan filters Catalyst "
    "can't derive itself, then the broadcast join applies the exact "
    "residual; at 100 TB the scan prunes most of lineitem before any join",
)
def q_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    brands = ["Brand#1", "Brand#2", "Brand#3"]
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(brands) & F.col("p_size").between(1, 50)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 50)
    )
    residual = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 30))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    j = li.join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        li["l_partkey"] == F.col("p_partkey"),
    ).filter(residual)
    return j.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6), 2
        )
        .cast("double")
        .alias("revenue"),
    )


@register(
    "returned_item_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(22,6))), 2) AS DOUBLE) AS lost_revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c_custkey LIMIT 20
    """,
    doc="Q10 shape: revenue lost to returns per customer — returnflag "
    "filter at the lineitem scan, one fact shuffle, broadcast "
    "customer/nation enrichment AFTER the aggregate shrinks the rows, "
    "top-20 via TakeOrderedAndProject (no global sort)",
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6),
                2,
            )
            .cast("double")
            .alias("lost_revenue"),
        )
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    enriched = per_cust.join(
        F.broadcast(
            c.select("c_custkey", "c_name", "c_nationkey").join(
                F.broadcast(n.select("n_nationkey", "n_name")),
                c["c_nationkey"] == n["n_nationkey"],
            )
        ),
        per_cust["o_custkey"] == F.col("c_custkey"),
    )
    return (
        enriched.select(
            "c_custkey", "c_name", "n_name", "n_items", "lost_revenue"
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "order_value_deciles",
    """
    WITH t AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(22,6))), 2)
                AS DOUBLE) AS decile_total
    FROM t GROUP BY decile
    """,
    doc="NTILE decile summary of order values (tie-broken by key for "
    "cross-engine determinism) — the global-sort window is the known "
    "single-partition bottleneck; at 100 TB swap NTILE for "
    "approx_percentile cut points + a map-side bucket join, same output "
    "contract",
)
def q_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("decile"),
    )
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
        F.round(dsum(F.col("o_totalprice"), 6), 2)
        .cast("double")
        .alias("decile_total"),
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes, adapted to the fixture schema (no partsupp table:
# supplier-part "offers" derive from lineitem; no ps_supplycost: p_retailprice
# stands in as the cost basis).
# ---------------------------------------------------------------------------
@register(
    "min_cost_supplier_per_part",
    """
    WITH offers AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS offer_price
        FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
        SELECT s_suppkey, s_name, n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'),
    cand AS (
        SELECT o.l_partkey AS p_partkey, e.s_name, e.n_name, o.offer_price,
               MIN(o.offer_price) OVER (PARTITION BY o.l_partkey) AS min_price
        FROM offers o JOIN eu e ON o.l_suppkey = e.s_suppkey)
    SELECT c.p_partkey, c.s_name, c.n_name,
           CAST(c.offer_price AS DOUBLE) AS offer_price
    FROM cand c JOIN part p ON p.p_partkey = c.p_partkey
    WHERE c.offer_price = c.min_price AND p.p_size = 20
    ORDER BY offer_price, c.p_partkey, s_name LIMIT 100
    """,
    doc="Q2 shape: cheapest EUROPE supplier per size-20 part (all argmin "
    "ties kept) — the correlated MIN subquery decorrelated into a window "
    "over one (partkey,suppkey) pre-aggregate; supplier/nation/region dims "
    "broadcast, so the only fact shuffle is the offers groupBy, and the "
    "argmin window reuses that partitioning (no second exchange at scale)",
)
def q_min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "n_name")
    )
    # One fact shuffle total: hash-partition on l_partkey alone, which
    # satisfies ClusteredDistribution for BOTH the (partkey,supp) aggregate
    # (subset partitioning) and the per-part argmin window — the alternative
    # (groupBy's own 3-key shuffle, then a second window shuffle on partkey)
    # moves the fact rows twice for a map-side combine that gains nothing
    # when (partkey,supplier) pairs are near-unique.
    offers = (
        li.join(F.broadcast(eu), li["l_suppkey"] == eu["s_suppkey"])
        .repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "s_name", "n_name")
        .agg(F.min("l_extendedprice").alias("offer_price"))
    )
    w = Window.partitionBy("l_partkey")
    cand = offers.withColumn("min_price", F.min("offer_price").over(w)).filter(
        F.col("offer_price") == F.col("min_price")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 20)
    return (
        cand.join(
            F.broadcast(p.select("p_partkey")),
            cand["l_partkey"] == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.col("offer_price").cast("double").alias("offer_price"),
        )
        .orderBy("offer_price", "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "nation_market_share",
    """
    WITH rev AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
               sn.n_name AS supp_nation,
               l.l_extendedprice * (1 - l.l_discount) AS r
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN region cr ON cr.r_regionkey = cn.n_regionkey
        WHERE cr.r_name = 'ASIA' AND p.p_type = 'PROMO'),
    agg AS (
        SELECT o_year,
               CAST(ROUND(SUM(CAST(CASE WHEN supp_nation = 'NATION_1'
                                        THEN r ELSE 0.0 END
                                   AS DECIMAL(22,6))), 2) AS DOUBLE) AS nation_rev,
               CAST(ROUND(SUM(CAST(r AS DECIMAL(22,6))), 2) AS DOUBLE) AS total_rev
        FROM rev GROUP BY o_year)
    SELECT o_year, nation_rev, total_rev,
           FLOOR(nation_rev / total_rev * 10000.0 + 0.5) / 10000.0 AS mkt_share
    FROM agg
    """,
    doc="Q8 shape: NATION_1's share of PROMO-part revenue sold into ASIA "
    "customers, per order year — share computed from the two decimal-"
    "rounded sums so both engines divide identical doubles; part/supplier/"
    "nation/region broadcast, orders joined on the fact key (one big "
    "shuffle), customer-region filter applied as a broadcast semi-join "
    "(at 100 TB: shuffle-join customers instead of broadcasting)",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = lambda t: load_table(spark, sf_dir, t)  # noqa: E731
    p = sf("part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    n = sf("nation")
    sn = sf("supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                             F.col("n_name").alias("supp_nation"))),
        "s_nationkey",
    ).select("s_suppkey", "supp_nation")
    r = sf("region").filter(F.col("r_name") == "ASIA")
    asia_cust = (
        sf("customer")
        .join(F.broadcast(n.join(F.broadcast(r),
                                 n["n_regionkey"] == r["r_regionkey"])
                          .select(F.col("n_nationkey").alias("c_nationkey"))),
              "c_nationkey")
        .select("c_custkey")
    )
    orders = sf("orders")
    o = orders.join(
        F.broadcast(asia_cust),
        orders["o_custkey"] == asia_cust["c_custkey"],
        "left_semi",
    )
    li = sf("lineitem")
    rev = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.year("o_orderdate").alias("o_year"),
            "supp_nation",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
        )
    )
    agg = rev.groupBy("o_year").agg(
        F.round(
            dsum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("r"))
                .otherwise(0.0),
                6,
            ),
            2,
        ).cast("double").alias("nation_rev"),
        F.round(dsum(F.col("r"), 6), 2).cast("double").alias("total_rev"),
    )
    return agg.select(
        "o_year",
        "nation_rev",
        "total_rev",
        dround(F.col("nation_rev") / F.col("total_rev"), 4).alias("mkt_share"),
    )


@register(
    "product_profit_by_nation",
    """
    SELECT sn.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(CAST(
               l.l_extendedprice * (1 - l.l_discount)
               - p.p_retailprice * l.l_quantity * 0.1
               AS DECIMAL(22,6))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY sn.n_name, o_year
    """,
    doc="Q9 shape: profit on 'red' parts by supplier nation and year, with "
    "p_retailprice*qty*0.1 as the cost basis (fixtures have no partsupp/"
    "ps_supplycost) — part filter broadcast against the scan, supplier+"
    "nation broadcast, orders the single fact shuffle; profit expression "
    "kept in one parenthesization so both engines do identical IEEE ops",
)
def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    n = load_table(spark, sf_dir, "nation")
    sn = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                             "n_name")),
        "s_nationkey",
    ).select("s_suppkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        j.select("n_name", F.year("o_orderdate").alias("o_year"),
                 profit.alias("pr"))
        .groupBy("n_name", "o_year")
        .agg(F.round(dsum(F.col("pr"), 6), 2).cast("double").alias("profit"))
    )


@register(
    "supplier_count_by_part",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT pc.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pc
    JOIN part p ON p.p_partkey = pc.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 5, 10, 15, 20)
      AND pc.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="Q16 shape: distinct supplier count per (brand,type,size) with a "
    "NOT-IN exclusion (negative-balance suppliers stand in for the "
    "complaints predicate) — exclusion as a broadcast anti-join BEFORE the "
    "distinct so excluded rows never shuffle; single countDistinct plans "
    "as two-level aggregate, no Expand",
)
def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"],
              "left_anti")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_type",
                                   "p_size")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@register(
    "excess_supply_suppliers",
    """
    WITH shipped AS (
        SELECT l.l_suppkey, CAST(SUM(l.l_quantity) AS DOUBLE) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 50)
    SELECT s.s_name, n.n_name, sh.qty
    FROM supplier s
    JOIN shipped sh ON s.s_suppkey = sh.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY s.s_name
    """,
    doc="Q20 shape: suppliers who moved >50 units of 'red' parts in a "
    "2-year window (correlated availability threshold folded into one "
    "HAVING aggregate) — part filter broadcast, date range pushed to the "
    "scan, per-supplier aggregate is the only shuffle and shrinks to "
    "|suppliers| rows before the dim joins; qty is integer-valued so the "
    "plain double SUM is exact",
)
def q_excess_supply_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("double").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        shipped.join(F.broadcast(s), shipped["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", "n_name", "qty")
        .orderBy("s_name")
    )


@register(
    "segment_mode_median",
    """
    WITH j AS (
        SELECT c.c_mktsegment, o.o_orderpriority, o.o_totalprice
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    cnt AS (
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
        FROM j GROUP BY c_mktsegment, o_orderpriority),
    m AS (
        SELECT c_mktsegment, o_orderpriority AS modal_priority,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY n DESC, o_orderpriority) AS rn
        FROM cnt),
    med AS (
        SELECT c_mktsegment,
               CAST(MEDIAN(o_totalprice) AS DOUBLE) AS median_value,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM j GROUP BY c_mktsegment)
    SELECT m.c_mktsegment, m.modal_priority, med.median_value, med.n_orders
    FROM m JOIN med ON m.c_mktsegment = med.c_mktsegment
    WHERE m.rn = 1
    """,
    doc="per-segment modal order priority (mode derived as count-argmax "
    "with an explicit (count desc, value) tie-break — engine mode() "
    "functions break ties arbitrarily, so the window form is the portable "
    "one) + exact per-group median (even-count midpoint average, IEEE-"
    "identical across engines); customer broadcast, counts pre-shrink "
    "before the argmax window; at 100 TB swap exact median for "
    "approx_percentile(0.5) — same output contract",
)
def q_segment_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderpriority", "o_totalprice"
    )
    cnt = j.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    mode = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("o_orderpriority").alias("modal_priority"))
    )
    med = j.groupBy("c_mktsegment").agg(
        F.median("o_totalprice").cast("double").alias("median_value"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return mode.join(med, "c_mktsegment")


@register(
    "forecast_revenue_change",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount
                               AS DECIMAL(22,6))), 2) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Q6 shape: ungrouped scalar aggregate under three range predicates "
    "— every filter reaches the parquet scan (PushedFilters + min/max row-"
    "group skipping), so at 100 TB the job reads only matching row groups "
    "of three columns and reduces map-side to one row per task",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(dsum(F.col("l_extendedprice") * F.col("l_discount"), 6), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Per-user event sequences — the sessionized behavioral-model training
# shape: each user's event types as one ordered array, truncated to the
# first 20.  One user-shuffle; ordering pinned by (ts_nanos, event_id)
# so the arrays are deterministic on any partitioning and both engines.
# ---------------------------------------------------------------------------
@register(
    "user_event_sequences",
    """
    SELECT user_id,
           CAST(LEAST(COUNT(*), 20) AS BIGINT) AS seq_len,
           array_to_string((list(event_type ORDER BY epoch_ns(ts), event_id))[1:20],
                           ' ') AS seq
    FROM events GROUP BY user_id
    """,
    doc="per-user ordered event-type sequence (first 20 events) — the "
    "sessionized training-sequence shape; one user-shuffle, "
    "deterministic (ts_nanos, event_id) ordering",
)
def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_nanos", "event_id"
    )
    ordered = F.transform(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct("ts_nanos", "event_id", "event_type")
                )
            ),
            1,
            20,
        ),
        lambda s: s["event_type"],
    )
    return e.groupBy("user_id").agg(
        F.least(F.count(F.lit(1)), F.lit(20)).cast("bigint").alias("seq_len"),
        F.array_join(ordered, " ").alias("seq"),
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly counts: per (event_type, hour-of-day) mean
# and stddev from EXACT decimal sums (sum and sum-of-squares are
# order-independent decimals, so the derived doubles are identical on
# both engines and any partitioning), then each event compares against
# its group's mean ± 2σ.  The baseline table is tiny (types × 24 rows)
# and broadcasts back — the standard shape for rate/metric anomaly
# sweeps over event streams.
# ---------------------------------------------------------------------------
@register(
    "hourly_baseline_outliers",
    """
    WITH base AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hod,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(22,6))) AS s,
               SUM(CAST(value AS DECIMAL(22,6)) * CAST(value AS DECIMAL(22,6))) AS ss
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, hod, n,
               CAST(s AS DOUBLE) / n AS mu,
               sqrt(GREATEST(CAST(ss AS DOUBLE) / n
                             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                             0.0)) AS sigma
        FROM base
    )
    SELECT e.event_type, CAST(st.hod AS INT) AS hod,
           CAST(st.n AS BIGINT) AS n,
           FLOOR(st.mu * 10000.0 + 0.5) / 10000.0 AS mu,
           CAST(COUNT(CASE WHEN abs(e.value - st.mu) > 2.0 * st.sigma
                           THEN 1 END) AS BIGINT) AS n_outliers
    FROM events e
    JOIN stats st ON e.event_type = st.event_type
                 AND EXTRACT(hour FROM e.ts) = st.hod
    GROUP BY e.event_type, st.hod, st.n, st.mu
    """,
    doc="seasonal (hour-of-day) baseline anomaly counts per event type: "
    "mean/sigma from exact decimal sums (order-independent), events "
    "compared against their group's mu±2sigma via a broadcast join-back",
)
def q_hourly_baseline_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod"), "value"
    )
    v = F.col("value").cast("decimal(22,6)")
    base = e.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    stats = base.select(
        "event_type",
        "hod",
        "n",
        mu.alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("ss").cast("double") / F.col("n") - mu * mu,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    return (
        e.join(F.broadcast(stats), ["event_type", "hod"])
        .groupBy("event_type", "hod", "n", "mu")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("mu"))
                    > F.lit(2.0) * F.col("sigma"),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("hod").cast("int").alias("hod"),
            F.col("n").cast("bigint").alias("n"),
            dround(F.col("mu"), 4).alias("mu"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Shared-ANSI windowed SQL: one query text executed verbatim by BOTH
# Catalyst and DuckDB — monthly revenue per nation with each month's
# share-of-total and rank computed by window functions over the
# aggregate.  Widens the shared-SQL suite (aggregation + window in one
# text); share divides two doubles both engines derive from the same
# exact DECIMAL sums, so the quantized result is identical.
# ---------------------------------------------------------------------------
_SHARED_SQL_MONTHLY_SHARE = """
    WITH m AS (
        SELECT n.n_name AS nation,
               SUBSTRING(CAST(o.o_orderdate AS VARCHAR(10)), 1, 7) AS month,
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(22,4))) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, SUBSTRING(CAST(o.o_orderdate AS VARCHAR(10)), 1, 7)
    )
    SELECT nation, month,
           CAST(rev AS DOUBLE) AS revenue,
           FLOOR(CAST(rev AS DOUBLE)
                 / CAST(SUM(rev) OVER (PARTITION BY month) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS month_share,
           CAST(RANK() OVER (PARTITION BY month
                             ORDER BY rev DESC, nation) AS INT) AS rnk
    FROM m
"""


@register(
    "sql_monthly_nation_share",
    _SHARED_SQL_MONTHLY_SHARE,
    doc="shared-ANSI windowed SQL: monthly nation revenue with "
    "share-of-month and rank — identical text on Catalyst and DuckDB, "
    "window over exact decimal aggregate",
)
def q_sql_monthly_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql import sql

    return sql(spark, sf_dir, _SHARED_SQL_MONTHLY_SHARE)


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphan counts for every FK edge of the
# star schema in one result — the standing data-quality sweep that runs
# after every load.  Each edge is a broadcast left-anti join (dim side
# is the small side), aggregated to counts; a healthy load is all
# zeros, and the query's cost is one fact-table scan per edge with no
# fact shuffle.
# ---------------------------------------------------------------------------
@register(
    "fk_orphan_audit",
    """
    SELECT 'orders.o_custkey->customer' AS fk_edge,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
               AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN ok.o_orderkey IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders ok ON l.l_orderkey = ok.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END) AS BIGINT)
    FROM customer c2 LEFT JOIN nation n ON c2.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN n2.n_nationkey IS NULL THEN 1 END) AS BIGINT)
    FROM supplier s LEFT JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN r.r_regionkey IS NULL THEN 1 END) AS BIGINT)
    FROM nation na LEFT JOIN region r ON na.n_regionkey = r.r_regionkey
    """,
    doc="referential-integrity audit: orphan counts for every FK edge "
    "of the star schema (broadcast left joins, no fact shuffle) — the "
    "standing post-load data-quality sweep",
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(name, fact, fact_key, dim, dim_key):
        f = load_table(spark, sf_dir, fact).select(F.col(fact_key))
        d = load_table(spark, sf_dir, dim).select(F.col(dim_key))
        joined = f.join(F.broadcast(d), f[fact_key] == d[dim_key], "left")
        return joined.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(F.col(dim_key).isNull(), 1))
            .cast("bigint")
            .alias("n_orphans"),
        )
    edges = [
        edge("orders.o_custkey->customer", "orders", "o_custkey",
             "customer", "c_custkey"),
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
             "part", "p_partkey"),
        edge("customer.c_nationkey->nation", "customer", "c_nationkey",
             "nation", "n_nationkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey",
             "nation", "n_nationkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey",
             "region", "r_regionkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


# ---------------------------------------------------------------------------
# Windowed heavy hitters: top-3 users by event count per tumbling hour —
# the per-window analog of cms_heavy_users' global sketch, and the
# batch twin of the streaming tumbling aggregate.  Two shrinking
# shuffles ((window,user) count, then the rank's window exchange);
# WindowGroupLimit pushes the rank<=3 filter map-side so only a few
# rows per (window) per task shuffle.
# ---------------------------------------------------------------------------
@register(
    "windowed_heavy_hitters",
    """
    WITH c AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
           user_id, CAST(n AS BIGINT) AS n,
           CAST(rnk AS INT) AS rnk
    FROM (
        SELECT w, user_id, n,
               ROW_NUMBER() OVER (PARTITION BY w
                                  ORDER BY n DESC, user_id) AS rnk
        FROM c)
    WHERE rnk <= 3
    """,
    doc="windowed heavy hitters: top-3 users per tumbling hour "
    "(count aggregate then rank, WindowGroupLimit keeps the rank "
    "filter map-side) — per-window analog of the CMS heavy hitters",
)
def q_windowed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        F.window("ts", "1 hour").alias("w"), "user_id"
    )
    counts = e.groupBy("w", "user_id").agg(F.count(F.lit(1)).alias("n"))
    rk = Window.partitionBy("w").orderBy(F.col("n").desc(), F.col("user_id"))
    return (
        counts.withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# MVCC time travel + change data feed as one registered flow: commit the
# even-event half of the stream as snapshot v1, merge in the odd half as
# v2, then read BOTH pinned versions and diff them into a per-key change
# feed (insert / update / unchanged).  Exercises the snapshot table's
# commit/read-version path end-to-end; the oracle reconstructs each
# version as a latest-per-key window over the same subsets, proving the
# copy-on-write merge ≡ declarative recompute at every version.
# ---------------------------------------------------------------------------
@register(
    "snapshot_change_feed",
    """
    WITH v1 AS (
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
            FROM events WHERE event_id % 2 = 0)
        WHERE rn = 1
    ), v2 AS (
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    )
    SELECT v2.user_id,
           CASE WHEN v1.user_id IS NULL THEN 'I'
                WHEN v1.event_id <> v2.event_id THEN 'U'
                ELSE 'N' END AS op,
           v1.event_id AS v1_event_id,
           v2.event_id AS v2_event_id
    FROM v2 LEFT JOIN v1 ON v2.user_id = v1.user_id
    """,
    doc="MVCC time travel + change data feed: commit two snapshot "
    "versions via copy-on-write keyed merges, read both pinned "
    "versions, diff into per-key I/U/N ops — oracle recomputes each "
    "version declaratively",
)
def q_snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "snap",
        keys=["user_id"],
        order_cols=["ts_nanos", "event_id"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 2 == 0))
        table.upsert(e.filter(F.col("event_id") % 2 == 1))

        v1 = table.read(1).select(
            F.col("user_id"), F.col("event_id").alias("v1_event_id")
        )
        v2 = table.read(2).select(
            F.col("user_id"), F.col("event_id").alias("v2_event_id")
        )
        feed = v2.join(v1, "user_id", "left").select(
            "user_id",
            F.when(F.col("v1_event_id").isNull(), "I")
            .when(F.col("v1_event_id") != F.col("v2_event_id"), "U")
            .otherwise("N")
            .alias("op"),
            "v1_event_id",
            "v2_event_id",
        )
        # one row per user key (the dimension, not the fact table) —
        # bounded by design
        return materialize_bounded(spark, feed)


# ---------------------------------------------------------------------------
# Incremental-manifest MVCC (the 100 TB fact-table commit shape): commit
# one full load, then a second batch touching ONLY ONE partition — the
# manifest inherits every other partition's files by reference (asserted
# in-plan by reading the committed layout), and the final read resolves
# inherited + rewritten partitions into one view.  The oracle recomputes
# the same two-stage keyed merge declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_incremental_commits",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 1 AND event_type = 'click'
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_latest_event_id
    FROM latest GROUP BY event_type
    """,
    doc="incremental-manifest MVCC commits (ManifestSnapshotTable): "
    "second commit rewrites only the one partition it touches, every "
    "other partition inherited by manifest reference; read resolves "
    "mixed-version partitions — oracle recomputes both keyed merges "
    "declaratively",
)
def q_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "manifest",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        table.upsert(
            e.filter(
                (F.col("event_id") % 3 == 1)
                & (F.col("event_type") == "click")
            )
        )
        # layout proof, bounded control data: commit 2 holds ONLY the
        # 'click' partition; everything else is a v=1 manifest
        # reference.  Explicit raise, not `assert` — the proof must
        # survive `python -O`.
        m = table.manifest()
        rewritten = [k for k, v in m.items() if v == 2]
        if rewritten != ["event_type=click"]:
            raise RuntimeError(
                "incremental commit rewrote unexpected partitions: "
                f"{m}"
            )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint")
                .alias("sum_latest_event_id"),
            )
        )
        # one row per event type — bounded control data
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Compaction (OPTIMIZE/checkpoint) on the incremental-manifest table:
# three commits scatter the live partitions across three holder
# versions; compact() rewrites every live partition under ONE version
# (proved in-plan from the committed manifest), after which vacuum can
# reclaim every older dir (proved from the committed layout).  The data
# is observationally unchanged, so the oracle is the same declarative
# merge recompute — the query certifies maintenance leaves answers
# fixed while collapsing the physical layout.
# ---------------------------------------------------------------------------
@register(
    "manifest_compaction_commits",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 1 AND event_type = 'click'
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 2 AND event_type = 'view'
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_latest_event_id
    FROM latest GROUP BY event_type
    """,
    doc="manifest-table compaction: three incremental commits scatter "
    "partitions across three holder versions; compact() collapses the "
    "manifest to a single self-contained version and vacuum() then "
    "reclaims every older dir — read answers are provably unchanged "
    "(oracle recomputes the merges declaratively)",
)
def q_manifest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "compact",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        table.upsert(
            e.filter(
                (F.col("event_id") % 3 == 1)
                & (F.col("event_type") == "click")
            )
        )
        table.upsert(
            e.filter(
                (F.col("event_id") % 3 == 2)
                & (F.col("event_type") == "view")
            )
        )
        # pre-compact layout proof: live partitions are scattered across
        # all three holder versions (the state compaction exists to fix)
        if set(table.manifest().values()) != {1, 2, 3}:
            raise RuntimeError(
                f"expected 3-version scatter, got {table.manifest()}"
            )
        new_v = table.compact()
        m = table.manifest()
        if set(m.values()) != {new_v}:
            raise RuntimeError(
                f"compaction left a scattered manifest: {m}"
            )
        # the compacted snapshot is self-contained, so retention can now
        # reclaim EVERY older dir — no demoted holders survive
        table.keep_versions = 1
        table.vacuum()
        if table._committed_dirs() != [new_v]:
            raise RuntimeError(
                "vacuum after compaction left stale version dirs: "
                f"{table._committed_dirs()}"
            )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint")
                .alias("sum_latest_event_id"),
            )
        )
        # one row per event type — bounded control data
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Zone maps (manifest-level data skipping) on the incremental-manifest
# table: the 100 TB time-partitioned fact-table read shape.  Events are
# committed partitioned by day bucket with per-fragment [min, max]
# ts_nanos envelopes riding in the manifest; a 2-day range read prunes
# 30 day fragments to exactly the 2 that intersect — proved in-plan
# from the pruning counters WITHOUT scanning the skipped fragments —
# then applies the exact predicate.  The oracle recomputes keyed
# latest + the same window declaratively, so pruning is certified to
# be an optimization, never a filter.
# ---------------------------------------------------------------------------
@register(
    "manifest_pruned_read",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), b AS (
        SELECT MIN(tsn) AS dmin FROM src
    ), keyed AS (
        SELECT user_id, event_type, event_id, tsn,
               ROW_NUMBER() OVER (
                   PARTITION BY (tsn - (SELECT dmin FROM b))
                                    // 86400000000000,
                                user_id, event_type
                   ORDER BY tsn DESC, event_id DESC) AS rn
        FROM src
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM keyed
    WHERE rn = 1
      AND tsn >= (SELECT dmin FROM b) + 5 * 86400000000000
      AND tsn <= (SELECT dmin FROM b) + 7 * 86400000000000 - 1
    GROUP BY event_type
    """,
    doc="zone-map data skipping on the manifest table: day-bucketed "
    "commit records per-fragment ts_nanos envelopes in the manifest; "
    "a 2-day range read prunes 30 fragments to the 2 intersecting "
    "ones without touching skipped files (counters proved in-plan), "
    "oracle recomputes keyed-latest + window declaratively",
)
def q_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    day_ns = 86_400_000_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    # one-row control collect: the bucket origin (time-partitioned
    # tables derive this from the partition spec, not a scan)
    dmin = e.agg(F.min("ts_nanos")).first()[0]
    ev = e.withColumn(
        "day_bucket", F.expr(f"(ts_nanos - {dmin}) DIV {day_ns}")
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "zonemap",
        keys=["day_bucket", "user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["day_bucket"],
        stats_cols=["ts_nanos"],
    ) as table:
        table.upsert(ev)
        lo = dmin + 5 * day_ns
        hi = dmin + 7 * day_ns - 1
        df, kept, total, _fk, _ft = table.read_where("ts_nanos", lo, hi)
        # pruning proof: exactly the two intersecting day fragments are
        # scanned (buckets 5 and 6 — bucket envelopes nest in bucket
        # boundaries by construction); everything else is skipped on
        # manifest metadata alone
        if kept != 2 or total <= kept:
            raise RuntimeError(
                f"zone-map pruning ineffective: kept {kept} of {total}"
            )
        agg = df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        # one row per event type — bounded
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# DELETE commits on the incremental-manifest table: the GDPR /
# right-to-erasure / retention shape every long-lived fact table needs.
# Both forms are copy-on-write commits that rewrite ONLY the partitions
# the doomed rows live in: the keyed delete locates its partitions from
# the delete batch alone (partition cols ⊆ keys — no table scan), the
# predicate delete from one pushed-filter scan of the partition
# columns.  Pruning is proved in-plan from the committed manifests; the
# oracle recomputes merge-then-delete declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_delete_commits",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), after_del AS (
        SELECT * FROM latest
        WHERE NOT (event_type = 'click' AND user_id % 7 = 0)
          AND NOT (event_type = 'error' AND event_id % 11 = 0)
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM after_del GROUP BY event_type
    """,
    doc="keyed + predicate DELETE commits (ManifestSnapshotTable.delete/"
    "delete_where): each delete rewrites only the partition its doomed "
    "rows live in — keyed deletes locate partitions from the delete "
    "batch with no table scan — proved in-plan from the committed "
    "manifests; oracle recomputes merge-then-delete declaratively",
)
def q_manifest_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "del",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        # GDPR-style keyed erasure: every (user_id % 7 == 0, click) key
        doomed = (
            e.select("user_id")
            .distinct()
            .filter(F.col("user_id") % 7 == 0)
            .withColumn("event_type", F.lit("click"))
        )
        v2 = table.delete(doomed)
        m2 = table.manifest()
        if [k for k, v in m2.items() if v == v2] != ["event_type=click"]:
            raise RuntimeError(
                f"keyed delete rewrote unexpected partitions: {m2}"
            )
        # retention-style predicate erasure, pruned to one partition
        v3 = table.delete_where(
            (F.col("event_type") == "error") & (F.col("event_id") % 11 == 0)
        )
        m3 = table.manifest()
        if [k for k, v in m3.items() if v == v3] != ["event_type=error"]:
            raise RuntimeError(
                f"predicate delete rewrote unexpected partitions: {m3}"
            )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        # one row per event type — bounded
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Merge-on-read DELETE via deletion vectors (Delta deletion vectors /
# Iceberg v3 position deletes): the same erasure semantics as
# manifest_delete_commits, but NO data file is rewritten — each DV
# commit writes one (file, row_index) sidecar row per doomed row and
# every read path anti-joins them out.  At 100 TB this is the
# difference between an erasure costing O(deleted rows) and O(touched
# partitions rewritten).  Proved in-plan: the dv commits create no
# data dir, the data holders never move, vectors accumulate across
# commits, and COUNT(*) stays metadata-only via the recorded vector
# cardinalities.  The oracle recomputes merge-then-delete declaratively
# — identical results to copy-on-write, by construction.
# ---------------------------------------------------------------------------
@register(
    "manifest_dv_delete",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), after_del AS (
        SELECT * FROM latest
        WHERE NOT (event_type = 'click' AND user_id % 5 = 0)
          AND NOT (event_type = 'click' AND user_id % 7 = 0)
          AND NOT (event_type = 'view' AND event_id % 13 = 0)
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM after_del GROUP BY event_type
    """,
    doc="merge-on-read DELETE commits (ManifestSnapshotTable.delete_dv/"
    "delete_where_dv, the Delta deletion-vector shape): keyed + "
    "predicate erasure writing ONLY positional sidecars — proved "
    "in-plan that no data file moved, vectors accumulate across "
    "commits, and COUNT(*) stays metadata-only; oracle recomputes "
    "merge-then-delete declaratively",
)
def q_manifest_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "dvdel",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
        stats_cols=["event_id"],
    ) as table:
        v1 = table.upsert(e.filter(F.col("event_id") % 3 == 0))
        holders_before = table.manifest()
        # keyed erasure, twice on the SAME partition so the second
        # vector must carry the first forward (accumulation)
        users = e.select("user_id").distinct()
        v2 = table.delete_dv(
            users.filter(F.col("user_id") % 5 == 0)
            .withColumn("event_type", F.lit("click"))
        )
        v3 = table.delete_dv(
            users.filter(F.col("user_id") % 7 == 0)
            .withColumn("event_type", F.lit("click"))
        )
        # predicate erasure on another partition
        v4 = table.delete_where_dv(
            (F.col("event_type") == "view") & (F.col("event_id") % 13 == 0)
        )
        import os as _os

        for v in (v2, v3, v4):
            if _os.path.exists(table._data_dir(v)):
                raise RuntimeError(
                    f"dv commit v{v} rewrote data files — "
                    "merge-on-read contract broken"
                )
        if table.manifest() != holders_before:
            raise RuntimeError(
                "dv commits moved data holders: "
                f"{holders_before} -> {table.manifest()}"
            )
        dv = table._dv_map(table._manifest_doc())
        if dv.get("event_type=click") != v3 or dv.get(
            "event_type=view"
        ) != v4:
            raise RuntimeError(f"unexpected vector holders: {dv}")
        # COUNT(*) must stay metadata-only (vector cardinalities ride
        # the manifest next to the per-file row counts)
        n, meta, scanned = table.count_rows()
        if scanned != 0:
            raise RuntimeError(
                f"count_rows scanned {scanned} fragments on a fully "
                "stats-covered table"
            )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT CHECK): declared
# on the table, enforced on every row a writing commit produces — in a
# SINGLE pass via df.observe riding the write job itself, so
# enforcement costs zero extra scans at any table size.  A violating
# batch abandons the whole commit (nothing partial is ever visible);
# NULL passes, SQL-style.  Proved in-plan: the poisoned commit MUST
# raise, the version chain and row counts must be unchanged after it,
# and no claim debris may remain.  The oracle recomputes the surviving
# (valid-commits-only) content declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_check_constraints",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 4 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM latest GROUP BY event_type
    """,
    doc="table CHECK constraints (Delta ADD CONSTRAINT CHECK shape): "
    "enforced via df.observe in the write pass itself (zero extra "
    "scans); a violating batch abandons the whole commit — proved "
    "in-plan (poisoned commit raises, version chain and counts "
    "unchanged, no claim debris); oracle recomputes the surviving "
    "content declaratively",
)
def q_manifest_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.upsert import (
        ConstraintViolationError,
        ManifestSnapshotTable,
    )
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "check",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
        constraints={
            "event_id_nonneg": F.col("event_id") >= 0,
            "known_type": F.col("event_type").isNotNull(),
        },
    ) as table:
        v1 = table.upsert(e.filter(F.col("event_id") % 4 == 0))
        n_before = table.read().count()
        # poisoned batch: valid rows plus a few negated event_ids —
        # the whole commit must abort, not just the bad rows
        poisoned = e.filter(F.col("event_id") % 4 == 1).withColumn(
            "event_id",
            F.when(
                F.col("event_id") % 3 == 0, -F.col("event_id")
            ).otherwise(F.col("event_id")),
        )
        import os as _os

        try:
            table.upsert(poisoned)
        except ConstraintViolationError:
            pass
        else:
            raise RuntimeError(
                "poisoned commit did not raise ConstraintViolationError"
            )
        if table.versions() != [v1]:
            raise RuntimeError(
                f"violating commit left versions {table.versions()}"
            )
        if table.read().count() != n_before:
            raise RuntimeError("violating commit changed table content")
        if sorted(_os.listdir(table.path)) != [f"v={v1:05d}"]:
            raise RuntimeError(
                f"claim debris left behind: {_os.listdir(table.path)}"
            )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER BY: Morton-interleaved clustering during compaction.
# A lexicographic (linear) cluster sort serves only its LEADING
# column's predicates — every file spans the other columns' whole
# domains.  Z-order interleaves the cluster columns' rank-bucket bits,
# so files own small multi-dimensional tiles and the SAME per-file
# zone maps skip files for predicates on ANY cluster column.  Proved
# in-plan: after zorder compaction, single-column range probes on BOTH
# cluster columns skip files (counters), and the 2-D probe keeps no
# more than either.  The oracle recomputes the range aggregate
# declaratively — layout is invisible to results, by construction.
# ---------------------------------------------------------------------------
@register(
    "manifest_zorder_read",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), keyed AS (
        SELECT user_id, event_type, event_id, MAX(tsn) AS tsn
        FROM src GROUP BY user_id, event_type, event_id
    ), b AS (
        SELECT MAX(user_id) // 4 AS u4, MAX(event_id) // 4 AS e4
        FROM keyed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS sum_user
    FROM keyed
    WHERE user_id <= (SELECT u4 FROM b)
      AND event_id <= (SELECT e4 FROM b)
    GROUP BY event_type
    """,
    doc="OPTIMIZE ZORDER BY (compact cluster_method='zorder'): Morton-"
    "interleaved layout over (user_id, event_id) makes per-file zone "
    "maps skip files for range probes on BOTH columns — proved "
    "in-plan via skip counters (a linear sort serves only its leading "
    "column); oracle recomputes the 2-D range aggregate declaratively",
)
def q_manifest_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "zorder",
        keys=["user_id", "event_type", "event_id"],
        order_cols=["ts_nanos"],
        partition_by=["event_type"],
        stats_cols=["user_id", "event_id"],
    ) as table:
        table.upsert(e)
        table.compact(
            cluster_by=["user_id", "event_id"],
            cluster_files=32,
            cluster_method="zorder",
        )
        # two-row control collect: the probe bounds (the oracle derives
        # the same values declaratively)
        mx = table.read().agg(
            F.max("user_id").alias("u"), F.max("event_id").alias("e")
        ).first()
        u4, e4 = mx["u"] // 4, mx["e"] // 4
        _dfu, _fk, _ft, fu_kept, fu_total = table.read_where_all(
            [("user_id", 0, u4)]
        )
        _dfe, _fk, _ft, fe_kept, fe_total = table.read_where_all(
            [("event_id", 0, e4)]
        )
        # the z-order claim: BOTH columns' probes skip files (a linear
        # layout skips only on its leading column)
        if not (fu_kept < fu_total and fe_kept < fe_total):
            raise RuntimeError(
                "zorder layout failed to skip on both cluster columns: "
                f"user_id {fu_kept}/{fu_total}, "
                f"event_id {fe_kept}/{fe_total}"
            )
        df2, _fk2, _ft2, f2_kept, _f2_total = table.read_where_all(
            [("user_id", 0, u4), ("event_id", 0, e4)]
        )
        if f2_kept > min(fu_kept, fe_kept):
            raise RuntimeError(
                f"2-D probe kept {f2_kept} files, more than the "
                f"single-column probes ({fu_kept}, {fe_kept})"
            )
        agg = df2.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("user_id").cast("bigint").alias("sum_user"),
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Change data feed between manifest snapshots: the incremental-consumer
# read shape (Delta/Iceberg CDF) — one row per key whose state changed
# between two versions, tagged insert / update_postimage / delete.
# Cost tracks the commits: only fragments whose manifest entry moved
# are read (proved in-plan: exactly one fragment differs between the
# compared versions), then a keyed full-outer diff of just those rows.
# The oracle recomputes both snapshot states declaratively and diffs
# them with SQL joins.
# ---------------------------------------------------------------------------
@register(
    "manifest_change_feed",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), s1 AS (
        SELECT user_id, event_type, event_id, tsn FROM (
            SELECT user_id, event_type, event_id, tsn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM src WHERE event_id % 3 = 0) WHERE rn = 1
    ), staged2 AS (
        SELECT * FROM src WHERE event_id % 3 = 0
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 1 AND event_type = 'click'
    ), s2 AS (
        SELECT user_id, event_type, event_id, tsn FROM (
            SELECT user_id, event_type, event_id, tsn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged2) WHERE rn = 1
    ), s3 AS (
        SELECT * FROM s2
        WHERE NOT (event_type = 'click' AND user_id % 7 = 0)
    )
    SELECT 'insert' AS change_type, n.user_id, n.event_type,
           CAST(n.event_id AS BIGINT) AS event_id,
           CAST(n.tsn AS BIGINT) AS ts_nanos
    FROM s3 n LEFT JOIN s1 o
      ON o.user_id = n.user_id AND o.event_type = n.event_type
    WHERE o.user_id IS NULL
    UNION ALL
    SELECT 'delete' AS change_type, o.user_id, o.event_type,
           CAST(o.event_id AS BIGINT) AS event_id,
           CAST(o.tsn AS BIGINT) AS ts_nanos
    FROM s1 o LEFT JOIN s3 n
      ON o.user_id = n.user_id AND o.event_type = n.event_type
    WHERE n.user_id IS NULL
    UNION ALL
    SELECT 'update_postimage' AS change_type, n.user_id, n.event_type,
           CAST(n.event_id AS BIGINT) AS event_id,
           CAST(n.tsn AS BIGINT) AS ts_nanos
    FROM s3 n JOIN s1 o
      ON o.user_id = n.user_id AND o.event_type = n.event_type
    WHERE n.event_id <> o.event_id OR n.tsn <> o.tsn
    """,
    doc="change data feed between manifest snapshots "
    "(ManifestSnapshotTable.changes): keyed insert/update/delete diff "
    "read from ONLY the fragments whose manifest entry moved (proved "
    "in-plan: one fragment differs); oracle diffs the two snapshot "
    "states with declarative SQL joins",
)
def q_manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "cdf",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        table.upsert(
            e.filter(
                (F.col("event_id") % 3 == 1)
                & (F.col("event_type") == "click")
            )
        )
        table.delete(
            e.select("user_id")
            .distinct()
            .filter(F.col("user_id") % 7 == 0)
            .withColumn("event_type", F.lit("click"))
        )
        # pruning proof, bounded control data: across v1→v3 ONLY the
        # click fragment's holder moved, so the feed reads exactly one
        # fragment per side.  Explicit raise — survives `python -O`.
        m1, m3 = table.manifest(1), table.manifest(3)
        moved = sorted(
            f for f in set(m1) | set(m3) if m1.get(f) != m3.get(f)
        )
        if moved != ["event_type=click"]:
            raise RuntimeError(
                f"change feed would read unexpected fragments: {moved}"
            )
        feed = table.changes(1, 3).withColumnRenamed(
            "_change_type", "change_type"
        )
        # one row per changed key in one fragment — bounded
        return materialize_bounded(spark, feed)


# ---------------------------------------------------------------------------
# Incrementally-maintained materialized rollup (continuous aggregate)
# over the manifest table: the reference re-aggregates its whole index
# per dashboard load (app.py:58, Kibana panels README.md:26-27); at
# 100 TB the refresh must instead track the commits.  The view stores
# per-fragment partial aggregates keyed by the base's manifest; after
# the second commit (which touches ONLY the click partition) the
# refresh recomputes exactly 1 of N fragments — proved in-plan from the
# refresh counters — and the merged read still equals the declarative
# aggregate over everything staged (the oracle).
# ---------------------------------------------------------------------------
@register(
    "matview_incremental_refresh",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 1 AND event_type = 'click'
    ), latest AS (
        SELECT user_id, event_type, event_id, tsn FROM (
            SELECT user_id, event_type, event_id, tsn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    )
    SELECT CAST(tsn // 86400000000000 AS BIGINT) AS day_num,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(MAX(tsn) AS BIGINT) AS max_ts_nanos
    FROM latest GROUP BY day_num
    """,
    doc="incremental materialized view (IncrementalAggView): rollup of "
    "the manifest table's latest-key state maintained by recomputing "
    "only manifest-changed fragments — refresh #2 recomputes 1 of N "
    "partitions (proved from the refresh counters), merged partials "
    "equal the declarative aggregate over both staged commits",
)
def q_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.matview import IncrementalAggView
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    day_ns = 86_400_000_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "mvbase",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as base, ephemeral_table(
        IncrementalAggView,
        spark,
        "mview",
        base=base,
        group_cols=["day_num"],
        measures=[
            ("n_keys", None, "count"),
            ("sum_event_id", "event_id", "sum"),
            ("max_ts_nanos", "ts_nanos", "max"),
        ],
        prepare=lambda df: df.withColumn(
            "day_num", F.expr(f"ts_nanos DIV {day_ns}")
        ),
    ) as view:
        base.upsert(e.filter(F.col("event_id") % 3 == 0))
        view.refresh()
        base.upsert(
            e.filter(
                (F.col("event_id") % 3 == 1)
                & (F.col("event_type") == "click")
            )
        )
        info = view.refresh()
        # incremental proof, bounded control data: the second refresh
        # recomputed ONLY the click fragment; every other fragment's
        # partials were inherited untouched.  Explicit raise — must
        # survive `python -O`.
        if info["recomputed"] != 1 or info["inherited"] != info["total"] - 1:
            raise RuntimeError(
                f"matview refresh was not incremental: {info}"
            )
        # one row per (day, ) group — bounded
        return materialize_bounded(spark, view.read())


# ---------------------------------------------------------------------------
# Sketch measures inside the materialized view: avg rides as exact
# (sum, count) partials, and DISTINCT users ride as mergeable
# HyperLogLog registers (p=4, portable md5-prefix hash) — the partial
# form that makes a distinct-count KPI continuous-aggregate-able at
# all (exact COUNT(DISTINCT) is holistic and cannot merge from
# partials).  The oracle recomputes the identical register arithmetic
# in DuckDB, so even the estimates hash-compare exactly.
# ---------------------------------------------------------------------------
@register(
    "matview_sketch_rollup",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 1 AND event_type = 'click'
    ), latest AS (
        SELECT user_id, event_type, event_id,
               CAST(tsn // 86400000000000 AS BIGINT) AS day_num
        FROM (
            SELECT user_id, event_type, event_id, tsn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), plain AS (
        SELECT day_num,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               FLOOR(CAST(SUM(event_id) AS DOUBLE)
                     / CAST(COUNT(event_id) AS DOUBLE) * 1e9 + 0.5) / 1e9
                   AS avg_event_id
        FROM latest GROUP BY day_num
    ), br AS (
        SELECT day_num, hv & 15 AS bucket,
               CASE WHEN (hv >> 4) = 0 THEN 57
                    ELSE 57 - LENGTH(bin(hv >> 4)) END AS rho
        FROM (
            SELECT day_num,
                   ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT
                       AS hv
            FROM latest)
    ), regs AS (
        SELECT day_num, bucket, MAX(rho) AS register
        FROM br GROUP BY day_num, bucket
    ), sk AS (
        SELECT day_num, COUNT(*) AS nb,
               SUM(1::BIGINT << (57 - register)) AS observed
        FROM regs GROUP BY day_num
    )
    SELECT p.day_num, p.n_keys, p.avg_event_id,
           FLOOR(((0.673 * 256.0) * POWER(2.0, 57.0))
                 / CAST(sk.observed + (16 - sk.nb) * (1::BIGINT << 57)
                        AS DOUBLE)
                 * 1000.0 + 0.5) / 1000.0 AS du_users
    FROM plain p JOIN sk ON p.day_num = sk.day_num
    """,
    doc="materialized view with sketch measures: avg as exact "
    "(sum,count) partials and distinct users as mergeable HLL(p=4) "
    "registers riding the per-fragment partials; second refresh "
    "recomputes 1 fragment (proved from refresh counters); the oracle "
    "recomputes the identical register arithmetic in DuckDB",
)
def q_matview_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.matview import IncrementalAggView
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    day_ns = 86_400_000_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "mvskb",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as base, ephemeral_table(
        IncrementalAggView,
        spark,
        "mvsk",
        base=base,
        group_cols=["day_num"],
        measures=[
            ("n_keys", None, "count"),
            ("avg_event_id", "event_id", "avg"),
            ("du_users", "user_id", "hll_distinct"),
        ],
        prepare=lambda df: df.withColumn(
            "day_num", F.expr(f"ts_nanos DIV {day_ns}")
        ),
    ) as view:
        base.upsert(e.filter(F.col("event_id") % 3 == 0))
        view.refresh()
        base.upsert(
            e.filter(
                (F.col("event_id") % 3 == 1)
                & (F.col("event_type") == "click")
            )
        )
        info = view.refresh()
        if info["recomputed"] != 1 or info["inherited"] != info["total"] - 1:
            raise RuntimeError(
                f"sketch matview refresh was not incremental: {info}"
            )
        # one row per (day, ) group — bounded
        return materialize_bounded(spark, view.read())


# ---------------------------------------------------------------------------
# Semi-structured handling via VariantType (Spark 4): props parses ONCE
# into the binary variant encoding and every field access is a typed
# path lookup — at scale this replaces repeated get_json_object string
# re-parsing (one parse per row instead of one per extraction).  The
# aggregate mirrors json_props_agg's shape over variant access instead
# of string functions.
# ---------------------------------------------------------------------------
@register(
    "variant_props_stats",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) // 10 AS k_decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
               AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
               AS k_max
    FROM events GROUP BY 1
    """,
    doc="semi-structured props via VariantType: parse once to the "
    "binary variant encoding, typed path extraction, grouped stats — "
    "replaces per-extraction JSON string re-parsing",
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select(k.alias("k"))
        .groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# In-flight metrics via the Observation API: the scan that feeds the
# sink ALSO accumulates row counts and decimal sums, so data-quality
# metrics cost zero extra passes (the production pattern: observe() on
# the write path, alert on the metric stream).  The returned frame is
# the observed metrics themselves; the oracle recomputes them
# declaratively, proving observation ≡ aggregation.
# ---------------------------------------------------------------------------
@register(
    "observed_scan_metrics",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT)
               AS n_null_value,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events
    """,
    doc="Observation API: row/null/sum metrics accumulated by the same "
    "pass that feeds the sink (zero extra scans) — observation ≡ "
    "declarative aggregate, oracle-proved",
)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    e = load_table(spark, sf_dir, "events")
    obs = Observation("scan_metrics")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
        F.sum(F.col("value").cast("decimal(22,6)")).alias("total_value"),
    )
    # the action that would normally be the real sink write
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_value"]),
                float(m["total_value"]),
            )
        ],
        "n_rows bigint, n_null_value bigint, total_value double",
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF — the last cell of the UDF surface
# matrix (scalar / grouped-agg / grouped-map / map-iter / stateful).
# Arrow ships each group's values as one pandas Series; the UDF sorts
# before folding so the double accumulation order is deterministic on
# any partitioning, and the oracle mirrors it with an ORDER BY fold.
# Used where the aggregate genuinely isn't expressible in SQL (learned
# scoring, model-based group summaries); for anything SQL can say,
# native aggregates stay the fast path.
# ---------------------------------------------------------------------------
@register(
    "grouped_agg_udaf",
    """
    SELECT event_type,
           FLOOR(list_reduce(list(value ORDER BY value, event_id)
                                 FILTER (WHERE value IS NOT NULL),
                             (acc, x) -> acc + x)
                 / COUNT(value) * 10000.0 + 0.5) / 10000.0 AS folded_mean
    FROM events GROUP BY event_type
    """,
    doc="grouped-aggregate pandas UDF (Arrow series per group, "
    "sort-before-fold for order determinism) — completes the UDF "
    "surface matrix; oracle mirrors the fold with ORDER BY",
)
def q_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module's postponed annotations keep the
    # type-hint inference from seeing the Series->scalar signature
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def folded_mean(v):
        # NULLs arrive as NaN; drop them so the fold and the divisor
        # match the oracle's FILTER(value IS NOT NULL) / COUNT(value)
        # (an all-null group yields NULL on both engines)
        xs = v.dropna().sort_values(kind="mergesort").to_numpy()
        if len(xs) == 0:
            return None
        acc = 0.0
        for x in xs:
            acc += float(x)
        return acc / len(xs)

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").agg(
        dround(folded_mean(F.col("value")), 4).alias("folded_mean")
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 extension point) driven end-to-end:
# the synthetic-events generator source plans disjoint id-range
# partitions (dbgen-style parallel generation, no input files, no
# shuffle on read) and the aggregate runs over it like any table.
# Every generated column is a pure integer function of the row id, so
# the DuckDB oracle reproduces the dataset exactly via generate_series.
# ---------------------------------------------------------------------------
@register(
    "pyds_synthetic_agg",
    """
    WITH s AS (
        SELECT i AS event_id, i % 97 AS user_id,
               ['click','view','purchase','signup','error'][(i % 5) + 1]
                   AS etype,
               ((i * 2654435761) % 100000) / 100.0 AS value
        FROM generate_series(0, 9999) t(i)
    )
    SELECT etype,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM s GROUP BY etype
    """,
    doc="custom Python DataSource end-to-end: partitioned deterministic "
    "generator source (dbgen pattern, id-range InputPartitions) + "
    "aggregate; oracle reproduces the source via generate_series",
)
def q_pyds_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    s = (
        spark.read.format("synthetic_events")
        .option("n", 10_000)
        .option("parts", 8)
        .load()
    )
    return s.groupBy("etype").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        dsum(F.col("value"), 6).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# §2.9 Python UDTF (Spark 4 table function): one input row → N output
# rows with a computed shape per row — the table-function leg that
# completes the UDF surface matrix (scalar / grouped-agg / grouped-map /
# map-iter / stateful / TABLE).  Arrow-batched (useArrow), class built
# in a factory so cloudpickle ships it by value (same pattern as the
# custom DataSource).  The semantics are deliberately SQL-expressible —
# sentence split with per-sentence word counts — so the UDTF output is
# fully oracle-checked, proving the extension point produces exactly
# what the declarative twin would.
# ---------------------------------------------------------------------------
def _make_chunker_udtf():
    class ChunkWords:
        def eval(self, doc_id, text):
            if text is None:
                return
            ws = [w for w in text.split(" ") if w]
            for i in range(0, len(ws), 10):
                chunk = ws[i : i + 10]
                yield (doc_id, i // 10, len(chunk), " ".join(chunk))

    return ChunkWords


@register(
    "udtf_chunk_words",
    """
    SELECT doc_id,
           CAST(u['i'] - 1 AS INT) AS chunk_idx,
           CAST(len(u['c']) AS INT) AS n_words,
           array_to_string(u['c'], ' ') AS chunk
    FROM (
        SELECT doc_id,
               unnest([{'i': i, 'c': ws[(i - 1) * 10 + 1 : i * 10]}
                       FOR i IN generate_series(1, (len(ws) + 9) // 10)]) AS u
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), w -> w <> '') AS ws
              FROM documents)
    )
    """,
    doc="Python UDTF (LATERAL table function, Arrow-batched): 10-word "
    "document chunking, one doc row → N chunk rows — completes the "
    "§2.9 UDF/UDAF/UDTF surface; fully oracle-checked against the "
    "declarative unnest/slice twin",
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    fn = udtf(
        _make_chunker_udtf(),
        returnType="doc_id bigint, chunk_idx int, n_words int, chunk string",
        useArrow=True,
    )
    spark.udtf.register("chunk_words", fn)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT s.* FROM __udtf_docs d, "
        "LATERAL chunk_words(d.doc_id, d.text) s"
    )


# ---------------------------------------------------------------------------
# Last-touch marketing attribution: each purchase's value is credited to
# the user's most recent preceding touch channel (view/click/signup);
# purchases with no prior touch are 'direct'.  One (user_id) window
# shuffle — the IGNORE NULLS running last_value is the classic
# attribution kernel — then a tiny channel aggregate.  Completes the
# funnel family (funnel measures progression; attribution assigns
# revenue).
# ---------------------------------------------------------------------------
@register(
    "attribution_last_touch",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type, value,
               LAST_VALUE(CASE WHEN event_type IN ('view','click','signup')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
        FROM events
    )
    SELECT COALESCE(last_touch, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE)
               AS attributed_revenue
    FROM marked WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc="last-touch attribution: purchase revenue credited to the most "
    "recent preceding view/click/signup via an IGNORE NULLS running "
    "last_value over one (user_id, ts) window; no prior touch ⇒ "
    "'direct'.  One key shuffle + a channel-cardinality aggregate.",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click", "signup"),
        F.col("event_type"),
    )
    marked = e.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
    return (
        marked.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("last_touch"), F.lit("direct")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum(F.col("value"), 6).cast("double").alias("attributed_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 analog (the fixture has no c_phone, so the "promising
# segment" is above-average positive balance): customers with a
# positive account balance above the positive-customer average and no
# orders at all, rolled up per nation — the classic untapped-sales
# scan.  The average comparison is cross-multiplied (b·n > Σb) so both
# engines compare exact DECIMALs and no division ever happens; the
# one-row stats side broadcasts, the orders side is a shuffle-free
# anti-join probe.
# ---------------------------------------------------------------------------
@register(
    "sales_opportunity_by_nation",
    """
    WITH pos AS (
        SELECT c_custkey, c_nationkey,
               CAST(c_acctbal AS DECIMAL(22,6)) AS b
        FROM customer WHERE c_acctbal > 0
    ),
    stats AS (SELECT SUM(b) AS total, COUNT(*) AS n FROM pos),
    rich AS (
        SELECT p.c_custkey, p.c_nationkey, p.b
        FROM pos p, stats s WHERE p.b * s.n > s.total
    ),
    noord AS (
        SELECT r.* FROM rich r
        WHERE r.c_custkey NOT IN (SELECT o_custkey FROM orders)
    )
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(b) AS DOUBLE) AS total_acctbal
    FROM noord JOIN nation n ON noord.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="TPC-H Q22 analog: above-average-balance customers with zero "
    "orders per nation.  Division-free exact-DECIMAL mean comparison "
    "(b*n > total), broadcast one-row stats, anti-join on orders, "
    "broadcast nation dim.",
)
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    n = load_table(spark, sf_dir, "nation")
    pos = c.filter(F.col("c_acctbal") > 0).select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(22,6)").alias("b"),
    )
    stats = pos.agg(
        F.sum("b").alias("total"), F.count(F.lit(1)).alias("n")
    )
    rich = pos.crossJoin(F.broadcast(stats)).filter(
        F.col("b") * F.col("n") > F.col("total")
    )
    noord = anti_join(rich, o, ["c_custkey"])
    return (
        noord.join(
            F.broadcast(n),
            noord.c_nationkey == n.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("b").cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Unpivot (melt): the daily × event-type count matrix back to long
# (d, event_type, n) form — the inverse of event_type_pivot, via the
# native UNPIVOT operator (no explode of manually-built structs).
# Round-tripping pivot→unpivot is the classic reshaping pair every
# dashboard/export path needs; zero-count cells are dropped on both
# engines so the long form contains only observed pairs.
# ---------------------------------------------------------------------------
@register(
    "event_type_unpivot",
    """
    WITH wide AS (
        SELECT strftime(ts, '%Y-%m-%d') AS d,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        FROM events GROUP BY 1
    )
    SELECT d, event_type, n
    FROM wide
    UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
    WHERE n > 0
    """,
    doc="unpivot (melt): wide daily × event-type matrix back to long "
    "(d, event_type, n) via the native UNPIVOT operator — the inverse "
    "of event_type_pivot; zero cells dropped on both engines",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    wide = wide.select(
        "d", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )
    return wide.unpivot(
        "d", _EVENT_TYPES, "event_type", "n"
    ).filter(F.col("n") > 0)


# ---------------------------------------------------------------------------
# Schema-evolution read (S1 extension): a dataset directory whose later
# files carry an added column — the standard ingest drift case.  Staged
# per fixture via the artifact cache: file A = (doc_id, lang, text) for
# even doc_ids, file B adds a `quality` column for odd doc_ids.  The
# read uses parquet mergeSchema so early files surface NULL for the
# missing column, and the aggregate proves both file populations and
# the evolved column are read correctly.  Oracle = DuckDB
# union_by_name over the same two staged files.
# ---------------------------------------------------------------------------
def _schema_evo_dir(sf_dir: str) -> str:
    from .northstar import artifact

    def build() -> str:
        import os
        import tempfile

        import duckdb

        d = tempfile.mkdtemp(prefix="sparkgraft_schemaevo_")
        src = os.path.join(sf_dir, "documents.parquet")
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT doc_id, lang, text FROM read_parquet('{src}') "
            f"WHERE doc_id % 2 = 0) TO '{d}/part_v1.parquet' (FORMAT PARQUET)"
        )
        con.execute(
            f"COPY (SELECT doc_id, lang, text, "
            f"octet_length(encode(text)) AS quality "
            f"FROM read_parquet('{src}') WHERE doc_id % 2 = 1) "
            f"TO '{d}/part_v2.parquet' (FORMAT PARQUET)"
        )
        con.close()
        return d

    return artifact("schema_evo", sf_dir, build)


def _schema_evo_oracle(sf_dir: str) -> str:
    d = _schema_evo_dir(sf_dir)
    return f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(quality) AS BIGINT) AS n_with_quality,
           CAST(SUM(COALESCE(quality, 0)) AS BIGINT) AS total_quality
    FROM read_parquet(['{d}/part_v1.parquet', '{d}/part_v2.parquet'],
                      union_by_name = true)
    GROUP BY lang
    """


@register(
    "schema_evolution_read",
    _schema_evo_oracle,
    doc="parquet mergeSchema read over a directory whose later files "
    "added a column (ingest-time schema drift): early files surface "
    "NULL for the new column; the per-lang aggregate checks both file "
    "populations and the evolved column.  Oracle = DuckDB "
    "union_by_name over the same staged files.",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _schema_evo_dir(sf_dir)
    docs = spark.read.option("mergeSchema", "true").parquet(d)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("quality").alias("n_with_quality"),
        F.sum(F.coalesce(F.col("quality"), F.lit(0)))
        .cast("bigint")
        .alias("total_quality"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter file skipping on the manifest table: the equality-probe
# complement to the zone-map tiers.  The table is clustered on user_id
# — a column UNCORRELATED with event_id — so every file's event_id
# [min, max] envelope spans the fragment's whole range and zone maps
# cannot skip a single file; the per-file bloom bitsets each commit
# records (Delta's bloom filter index) prune a point lookup to ~1 file
# per probe, proved in-plan from the read counters.  Bloom hits are
# re-checked by the exact predicate, so false positives cost a scan,
# never a wrong row — certified by the declarative oracle.
# ---------------------------------------------------------------------------
@register(
    "manifest_bloom_point_read",
    """
    WITH src AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        FROM events
    ), b AS (
        SELECT MIN(event_id) AS emn, MAX(event_id) AS emx FROM src
    )
    SELECT CAST(event_id AS BIGINT) AS event_id, user_id, event_type,
           CAST(tsn AS BIGINT) AS ts_nanos
    FROM src
    WHERE event_id IN (SELECT emn FROM b)
       OR event_id IN (SELECT emx FROM b)
       OR event_id IN (SELECT (emn + emx) // 2 FROM b)
    """,
    doc="per-file bloom-filter data skipping on the manifest table "
    "(ManifestSnapshotTable.read_where_eq): point lookups on a "
    "high-cardinality unclustered column open ~1 file per probe where "
    "zone maps keep every file (pruning proved in-plan from the read "
    "counters); exact predicate re-checks survivors, oracle certifies "
    "row-exact results",
)
def q_manifest_bloom_point_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    day_ns = 86_400_000_000_000
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_nanos"
    )
    # bounded control collect: bucket origin + probe values in ONE
    # aggregate job (was two sequential jobs over the same scan)
    ctl = e.agg(
        F.min("ts_nanos"), F.min("event_id"), F.max("event_id")
    ).first()
    dmin = ctl[0]
    emn, emx = int(ctl[1]), int(ctl[2])
    probes = [emn, emx, (emn + emx) // 2]
    ev = e.withColumn(
        "day_bucket", F.expr(f"(ts_nanos - {dmin}) DIV {day_ns}")
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "bloom",
        keys=["day_bucket", "event_id"],
        order_cols=["ts_nanos"],
        partition_by=["day_bucket"],
    ) as loader:
        loader.upsert(ev)
        # enable the bloom index AFTER the initial load (the Delta
        # ALTER-then-OPTIMIZE shape): the clustered compact both lays
        # files out by user_id — a column UNCORRELATED with event_id,
        # so per-file event_id envelopes all span their fragment and
        # only blooms can skip — and backfills stats + bloom sidecars
        # in the same rewrite, instead of paying the index build twice
        table = ManifestSnapshotTable(
            spark,
            loader.path,
            keys=["day_bucket", "event_id"],
            order_cols=["ts_nanos"],
            partition_by=["day_bucket"],
            stats_cols=["ts_nanos"],
            bloom_cols=["event_id"],
        )
        table.compact(cluster_by=["user_id"], cluster_files=120)
        # the three point probes are independent: overlap their
        # metadata resolution + 1-row position jobs on driver threads
        # (guide §2.6 — Spark schedules concurrent jobs FIFO and the
        # probes' tiny jobs back-fill each other's idle gaps), each
        # carrying the caller's job group
        from ..serving.collect import run_concurrently

        results = run_concurrently(
            spark,
            [
                lambda p=p: table.read_where_eq([("event_id", p)])
                for p in probes
            ],
        )
        frames, files_kept, files_total = [], 0, 0
        for fr, _fk, _ft, flk, flt in results:
            files_kept += flk
            files_total += flt
            frames.append(
                fr.select(
                    F.col("event_id").cast("bigint").alias("event_id"),
                    "user_id",
                    "event_type",
                    F.col("ts_nanos").cast("bigint").alias("ts_nanos"),
                )
            )
        # pruning proof: without blooms every probe scans every file
        # (no event_id envelopes anywhere); with them the three probes
        # together open a small fraction
        if files_total < 30 or files_kept * 8 > files_total:
            raise RuntimeError(
                "bloom skipping ineffective: kept "
                f"{files_kept} of {files_total}"
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        # three probed rows — bounded
        return materialize_bounded(spark, out)


# ---------------------------------------------------------------------------
# Metadata-only aggregates on the manifest table: COUNT(*) / MIN / MAX
# of a 100 TB snapshot answered from the manifest alone — zero data
# GETs — because every stats commit records exact per-file row counts
# next to its zone-map envelopes (the Iceberg/Delta metadata-only
# scan).  Stays exact across upsert and DELETE commits (rewritten
# partitions re-record, inherited partitions keep their counts by
# reference); the in-plan counters prove no fragment was scanned, and
# the oracle recomputes merge-then-delete declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_metadata_agg",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), latest AS (
        SELECT user_id, event_type, event_id, tsn FROM (
            SELECT user_id, event_type, event_id, tsn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM src) WHERE rn = 1
    ), after_del AS (
        SELECT * FROM latest WHERE NOT (event_id % 5 = 0)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(tsn) AS BIGINT) AS min_tsn,
           CAST(MAX(tsn) AS BIGINT) AS max_tsn
    FROM after_del
    """,
    doc="metadata-only COUNT(*)/MIN/MAX on the manifest table "
    "(count_rows / metadata_min_max): served from per-file row counts "
    "and zone-map envelopes in the manifest with ZERO data reads "
    "(proved by the fragments-scanned counter), exact across upsert "
    "and DELETE commits; oracle recomputes merge-then-delete "
    "declaratively",
)
def q_manifest_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "metaagg",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
        stats_cols=["ts_nanos"],
    ) as table:
        table.upsert(e)
        table.delete_where(F.col("event_id") % 5 == 0)
        n_rows, _meta, scanned = table.count_rows()
        mn, mx, _meta2, scanned2 = table.metadata_min_max("ts_nanos")
        if scanned or scanned2:
            raise RuntimeError(
                "metadata-only aggregate fell back to scanning "
                f"{scanned or scanned2} fragments"
            )
        return spark.createDataFrame(
            [(n_rows, int(mn), int(mx))],
            "n_rows bigint, min_tsn bigint, max_tsn bigint",
        )


# ---------------------------------------------------------------------------
# Conditional MERGE INTO on the manifest table: the full Delta/Iceberg
# clause surface (WHEN MATCHED AND <cond> THEN DELETE / UPDATE, WHEN
# NOT MATCHED AND <cond> THEN INSERT) as one pruned copy-on-write
# commit — only the source batch's partitions are read and rewritten.
# The oracle recomputes the clause semantics declaratively as a FULL
# JOIN with CASE, so delete-before-update precedence, NULL-as-false
# conditions, and recency collapse of the source are all certified.
# ---------------------------------------------------------------------------
@register(
    "manifest_merge_into",
    """
    WITH src AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        FROM events
    ), b AS (
        SELECT MIN(tsn) AS dmin FROM src
    ), ev AS (
        SELECT event_id, user_id, event_type, tsn,
               (tsn - (SELECT dmin FROM b)) // 86400000000000
                   AS day_bucket
        FROM src
    ), tgt AS (
        SELECT day_bucket, user_id, event_type, event_id, tsn FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY day_bucket, user_id, event_type
                ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev WHERE event_id % 2 = 0) WHERE rn = 1
    ), s AS (
        SELECT day_bucket, user_id, event_type, event_id, tsn FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY day_bucket, user_id, event_type
                ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev WHERE event_id % 2 = 1) WHERE rn = 1
    ), flags AS (
        SELECT t.event_type AS t_ty, t.event_id AS t_e,
               t.user_id AS t_u,
               s.event_type AS s_ty, s.event_id AS s_e,
               s.user_id AS s_u,
               (t.user_id IS NOT NULL) AS has_t,
               (s.user_id IS NOT NULL) AS has_s,
               COALESCE(s.user_id % 10 = 0, FALSE) AS del,
               COALESCE(s.tsn >= t.tsn, FALSE) AS upd,
               COALESCE(s.user_id % 10 <> 0, FALSE) AS ins
        FROM tgt t FULL JOIN s
          ON t.day_bucket = s.day_bucket AND t.user_id = s.user_id
         AND t.event_type = s.event_type
    ), kept AS (
        SELECT *,
               ((has_s AND NOT has_t)
                OR (has_t AND has_s AND NOT del AND upd)) AS take_s
        FROM flags
        WHERE NOT (has_t AND has_s AND del)
          AND NOT (has_s AND NOT has_t AND NOT ins)
          AND NOT (has_t AND NOT has_s AND t_u % 9 = 0)
    ), m AS (
        SELECT CASE WHEN take_s THEN s_ty ELSE t_ty END AS event_type,
               CASE WHEN take_s THEN s_e ELSE t_e END AS event_id,
               CASE WHEN take_s THEN s_u ELSE t_u END AS user_id
        FROM kept
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id
    FROM m GROUP BY event_type
    """,
    doc="conditional MERGE INTO commit on the manifest table "
    "(merge_into / merge_clauses): WHEN MATCHED AND cond DELETE, WHEN "
    "MATCHED AND cond UPDATE, WHEN NOT MATCHED AND cond INSERT, WHEN "
    "NOT MATCHED BY SOURCE AND cond DELETE, as one pruned "
    "copy-on-write commit reading only the source's (+ by-source "
    "located) partitions; oracle recomputes clause precedence + "
    "NULL-as-false semantics as a declarative FULL JOIN with CASE",
)
def q_manifest_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    day_ns = 86_400_000_000_000
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_nanos"
    )
    dmin = e.agg(F.min("ts_nanos")).first()[0]
    ev = e.withColumn(
        "day_bucket", F.expr(f"(ts_nanos - {dmin}) DIV {day_ns}")
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "merge",
        keys=["day_bucket", "user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["day_bucket"],
        stats_cols=["ts_nanos"],
    ) as table:
        table.upsert(ev.filter(F.col("event_id") % 2 == 0))
        table.merge_into(
            ev.filter(F.col("event_id") % 2 == 1),
            when_matched_delete=F.col("s.user_id") % 10 == 0,
            when_matched_update=(
                F.col("s.ts_nanos") >= F.col("t.ts_nanos")
            ),
            when_not_matched_insert=F.col("s.user_id") % 10 != 0,
            # the sync shape: reap target keys the source no longer
            # names (here: a deterministic user slice of them)
            when_not_matched_by_source_delete=(
                F.col("t.user_id") % 9 == 0
            ),
        )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
                F.sum("user_id").cast("bigint").alias("sum_user_id"),
            )
        )
        # one row per event type — bounded
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Commit history on the manifest table (Delta's DESCRIBE HISTORY): every
# commit records its operation and touched-fragment set in the manifest,
# so the table's audit log is pure metadata — no data reads.  The oracle
# derives the expected touch counts from the data itself (the full
# upsert and the compact touch every event-type partition; the scoped
# upsert and predicate delete touch exactly one).
# ---------------------------------------------------------------------------
@register(
    "manifest_history",
    """
    WITH t AS (
        SELECT CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n
        FROM events
    )
    SELECT CAST(1 AS INTEGER) AS version, 'upsert' AS op,
           (SELECT n FROM t) AS n_touched
    UNION ALL SELECT 2, 'upsert', 1
    UNION ALL SELECT 3, 'delete_where', 1
    UNION ALL SELECT 4, 'compact', (SELECT n FROM t)
    """,
    doc="commit history (ManifestSnapshotTable.history — DESCRIBE "
    "HISTORY): per-commit op + touched-fragment counts recorded in the "
    "manifest, served from metadata alone; oracle derives the expected "
    "touch counts from the data (partition cardinality vs scoped "
    "commits)",
)
def q_manifest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "history",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e)
        table.upsert(e.filter(F.col("event_type") == "click"))
        table.delete_where(
            (F.col("event_type") == "error")
            & (F.col("event_id") % 2 == 0)
        )
        table.compact()
        h = table.history().select("version", "op", "n_touched")
        # four commits — bounded audit metadata
        return materialize_bounded(spark, h)


# ---------------------------------------------------------------------------
# Retraction-based incremental view maintenance (DeltaAggView) from the
# change data feed: where matview_incremental_refresh recomputes the
# partials of MOVED FRAGMENTS, this view applies signed row deltas
# (insert/update-postimage +, delete/update-preimage −) from
# changes(cur, latest) — refresh cost O(changed rows), the CDC shape.
# The span apply telescopes (one net feed over N commits ≡ N applies),
# and the read must equal the declarative aggregate over the staged
# end state — certified by the oracle, with in-plan mode assertions
# (bootstrap → delta → noop) that raise under `python -O`.
# ---------------------------------------------------------------------------
@register(
    "matview_delta_refresh",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
        UNION ALL
        SELECT * FROM src WHERE event_id % 3 = 1 AND event_type = 'click'
    ), latest AS (
        SELECT user_id, event_type, event_id, tsn FROM (
            SELECT user_id, event_type, event_id, tsn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), after_del AS (
        SELECT * FROM latest
        WHERE NOT (event_type = 'click' AND user_id % 7 = 0)
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(COUNT(event_id) AS BIGINT) AS nn_event_id
    FROM after_del GROUP BY event_type
    """,
    doc="retraction-based incremental view maintenance (DeltaAggView): "
    "rollup maintained by applying SIGNED row deltas from the change "
    "feed (update pre-images retract old contributions) — refresh "
    "cost O(changed rows) vs the fragment-recompute matview; span "
    "apply over multiple commits telescopes; oracle recomputes the "
    "staged end state declaratively",
)
def q_matview_delta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.matview import DeltaAggView
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "deltaview",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table, ephemeral_table(
        DeltaAggView,
        spark,
        "dav",
        base=table,
        group_cols=["event_type"],
        sum_cols=["event_id"],
    ) as view:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        m1 = view.refresh()
        table.upsert(
            e.filter(
                (F.col("event_id") % 3 == 1)
                & (F.col("event_type") == "click")
            )
        )
        table.delete(
            e.select("user_id")
            .distinct()
            .filter(F.col("user_id") % 7 == 0)
            .withColumn("event_type", F.lit("click"))
        )
        m2 = view.refresh()  # ONE span apply over both commits
        m3 = view.refresh()
        # in-plan maintenance proof — explicit raise, survives -O
        modes = (m1["mode"], m2["mode"], m3["mode"])
        if modes != ("bootstrap", "delta", "noop"):
            raise RuntimeError(f"unexpected refresh modes: {modes}")
        out = view.read().select(
            "event_type",
            F.col("n").alias("n_keys"),
            F.col("sum_event_id").cast("bigint").alias("sum_event_id"),
            F.col("nn_event_id"),
        )
        # one row per event type — bounded
        return materialize_bounded(spark, out)


# ---------------------------------------------------------------------------
# Predicate UPDATE (ManifestSnapshotTable.update_where — SQL
# ``UPDATE t SET ... WHERE ...``): the remaining DML verb beside
# upsert/merge/delete, under the same partition-pruned copy-on-write
# commit discipline — assignments evaluate against the PRE-update row,
# NULL-condition rows stay, updated columns keep their type, and only
# partitions holding a matching row are rewritten (proved in-plan: the
# first update's locate must move ONLY event_type=click).  The oracle
# recomputes both updates declaratively as nested CASE stages.
# ---------------------------------------------------------------------------
@register(
    "manifest_update_where",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), upd1 AS (
        SELECT user_id, event_type,
               CASE WHEN event_type = 'click' AND user_id % 4 = 0
                    THEN event_id + 1000000 ELSE event_id END AS event_id
        FROM latest
    ), upd2 AS (
        SELECT user_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN event_id * 2
                    ELSE event_id END AS event_id
        FROM upd1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM upd2 GROUP BY event_type
    """,
    doc="predicate UPDATE commits (ManifestSnapshotTable.update_where): "
    "SQL UPDATE ... SET ... WHERE under partition-pruned copy-on-write — "
    "assignments see the pre-update row, only matching partitions are "
    "rewritten (asserted in-plan), stacked updates compose; oracle "
    "recomputes both updates as nested CASE stages",
)
def q_manifest_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "updw",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
        stats_cols=["event_id"],
    ) as table:
        v1 = table.upsert(e.filter(F.col("event_id") % 3 == 0))
        # partition-targeted update: the locate scan must rewrite ONLY
        # the click fragment, everything else inherited by reference
        v2 = table.update_where(
            (F.col("event_type") == "click") & (F.col("user_id") % 4 == 0),
            {"event_id": "event_id + 1000000"},
        )
        m2 = table.manifest()
        moved = sorted(k for k, v in m2.items() if v == v2)
        if moved != ["event_type=click"]:
            raise RuntimeError(
                f"update_where rewrote unexpected partitions: {m2}"
            )
        # cross-partition update stacked on the first one's result —
        # assignments must see the POST-v2 rows (commit composition)
        table.update_where(
            F.col("event_id") % 7 == 0, {"event_id": "event_id * 2"}
        )
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Schema evolution (ManifestSnapshotTable.add_column / widen_column /
# upsert(schema_evolution=True) — Delta/Iceberg metadata-only DDL): the
# declared schema rides the manifest; ADD COLUMN and type WIDENING are
# metadata-only commits (proved in-plan: no data dir, holders
# unchanged), old files read typed NULLs / cast up on alignment, and
# rewriting commits materialize the evolution on the partitions they
# touch.  The oracle models the three batches declaratively: a global
# last-write-wins window with a batch-index tiebreak replicates the
# sequential merges, pre-evolution rows carrying NULL for the late
# columns.
# ---------------------------------------------------------------------------
@register(
    "manifest_schema_evolution",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), b1 AS (
        SELECT user_id, event_type, event_id, tsn,
               CAST(NULL AS BIGINT) AS mark,
               CAST(NULL AS VARCHAR) AS tag, 1 AS b
        FROM src WHERE event_id % 3 = 0
    ), b2 AS (
        SELECT user_id, event_type, event_id, tsn,
               CAST(user_id % 10 AS BIGINT) AS mark,
               CAST(user_id % 3 AS VARCHAR) AS tag, 2 AS b
        FROM src WHERE event_id % 5 = 0
    ), b3 AS (
        SELECT user_id, event_type, event_id, tsn,
               CAST(user_id % 7 AS BIGINT) AS mark,
               CAST(user_id % 2 AS VARCHAR) AS tag, 3 AS b
        FROM src WHERE event_id % 7 = 0
    ), unioned AS (
        SELECT * FROM b1 UNION ALL SELECT * FROM b2
        UNION ALL SELECT * FROM b3
    ), latest AS (
        SELECT user_id, event_type, event_id, mark, tag FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                ORDER BY tsn DESC, event_id DESC, b DESC) AS rn
            FROM unioned) WHERE rn = 1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COUNT(mark) AS BIGINT) AS n_marked,
           CAST(COUNT(tag) AS BIGINT) AS n_tagged,
           CAST(SUM(COALESCE(mark, -1)) AS BIGINT) AS sum_mark,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM latest GROUP BY event_type
    """,
    doc="metadata-only schema evolution (add_column, evolving upsert "
    "with a second new column, widen_column int->bigint, narrow-batch "
    "cast-up): DDL commits create no data dir and move no holder "
    "(asserted in-plan); pre-evolution rows read typed NULLs; the "
    "oracle replays the batches with a last-write-wins window",
)
def q_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "sevo",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        # ALTER TABLE ADD COLUMN: metadata-only — no data dir, no
        # holder moves (asserted), old rows read typed NULL
        holders = table.manifest()
        v_add = table.add_column("mark", "int")
        if _os.path.exists(table._data_dir(v_add)):
            raise RuntimeError("add_column wrote data files")
        if table.manifest() != holders:
            raise RuntimeError("add_column moved data holders")
        # evolving upsert: carries the declared column AND a second
        # new one (tag) — refused without the flag, additive with it
        b2 = e.filter(F.col("event_id") % 5 == 0).withColumns(
            {
                "mark": (F.col("user_id") % 10).cast("int"),
                "tag": (F.col("user_id") % 3).cast("string"),
            }
        )
        table.upsert(b2, schema_evolution=True)
        if [c for c, _t in table.table_schema()][-2:] != ["mark", "tag"]:
            raise RuntimeError(
                f"unexpected evolved schema: {table.table_schema()}"
            )
        # type widening: metadata-only, reads cast up
        v_w = table.widen_column("mark", "bigint")
        if _os.path.exists(table._data_dir(v_w)):
            raise RuntimeError("widen_column wrote data files")
        # a batch still carrying the narrow int is cast up silently
        b3 = e.filter(F.col("event_id") % 7 == 0).withColumns(
            {
                "mark": (F.col("user_id") % 7).cast("int"),
                "tag": (F.col("user_id") % 2).cast("string"),
            }
        )
        table.upsert(b3)
        if dict(table.read().dtypes)["mark"] != "bigint":
            raise RuntimeError("widened column did not read as bigint")
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.count("mark").alias("n_marked"),
                F.count("tag").alias("n_tagged"),
                F.sum(F.coalesce(F.col("mark"), F.lit(-1)))
                .cast("bigint")
                .alias("sum_mark"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Shallow clone (ManifestSnapshotTable.clone_to — Delta CREATE TABLE
# SHALLOW CLONE): a zero-copy writable sandbox whose first snapshot
# references the source's files by path.  Proved in-plan: the clone
# dir holds ONE manifest version and no data dir; clone writes detach
# only the fragments they rewrite (the source's holders never move);
# the source never sees clone writes.  The result unions both tables'
# end states so the oracle checks independence declaratively: the
# source aggregate reflects only its own data, the clone aggregate the
# cloned state plus its local commits.
# ---------------------------------------------------------------------------
@register(
    "manifest_shallow_clone",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), clone_state AS (
        SELECT user_id, event_type,
               CASE WHEN event_type = 'click'
                    THEN event_id + 5000000 ELSE event_id END AS event_id
        FROM latest
        WHERE NOT (event_type = 'view' AND user_id % 6 = 0)
    ), both_tables AS (
        SELECT 'source' AS side, event_type, event_id FROM latest
        UNION ALL
        SELECT 'clone' AS side, event_type, event_id FROM clone_state
    )
    SELECT side, event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM both_tables GROUP BY side, event_type
    """,
    doc="shallow clone (clone_to, the Delta SHALLOW CLONE shape): "
    "zero-copy sandbox — one manifest version, no data dirs (asserted "
    "in-plan); clone-side UPDATE and DELETE detach only touched "
    "fragments while the source holders never move; oracle checks "
    "both end states' independence declaratively",
)
def q_manifest_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "clsrc",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        src_holders = table.manifest()
        cdir = _tempfile.mkdtemp(prefix="sparkgraft_clone_")
        try:
            clone = table.clone_to(_os.path.join(cdir, "t"))
            # zero-copy proof: one manifest version, no data dirs
            vdirs = _os.listdir(clone.path)
            if len(vdirs) != 1 or _os.path.exists(
                _os.path.join(clone.path, vdirs[0], "data")
            ):
                raise RuntimeError(
                    f"clone is not zero-copy: {vdirs}"
                )
            # clone-side DML: UPDATE one partition, DELETE from another
            clone.update_where(
                F.col("event_type") == "click",
                {"event_id": "event_id + 5000000"},
            )
            clone.delete_where(
                (F.col("event_type") == "view")
                & (F.col("user_id") % 6 == 0)
            )
            # independence proof: the source's holders never moved
            if table.manifest() != src_holders:
                raise RuntimeError(
                    "clone writes moved source holders: "
                    f"{src_holders} -> {table.manifest()}"
                )
            agg = lambda df, side: (  # noqa: E731
                df.groupBy("event_type").agg(
                    F.count(F.lit(1)).alias("n_keys"),
                    F.sum("event_id").cast("bigint").alias("sum_event_id"),
                ).select(F.lit(side).alias("side"), "*")
            )
            out = agg(table.read(), "source").unionByName(
                agg(clone.read(), "clone")
            )
            return materialize_bounded(spark, out)
        finally:
            _shutil.rmtree(cdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# RESTORE (ManifestSnapshotTable.restore — Delta RESTORE TABLE ...
# VERSION AS OF): the history-preserving undo — a bad commit is
# reverted by a NEW metadata-only commit referencing the old holders;
# nothing is deleted (asserted in-plan: the bad version stays readable
# and the restore created no data dir).  The oracle is simply the
# pre-bad-commit state, computed declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_restore",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM latest GROUP BY event_type
    """,
    doc="RESTORE VERSION AS OF (restore): history-preserving undo of a "
    "bad UPDATE via a metadata-only commit — the bad version stays "
    "readable, no data dir is created (asserted in-plan); oracle is "
    "the pre-bad state computed declaratively",
)
def q_manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "rest",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as table:
        v1 = table.upsert(e.filter(F.col("event_id") % 3 == 0))
        v2 = table.update_where(  # the bad commit
            F.col("event_type") == "click",
            {"event_id": "event_id + 1000000"},
        )
        v3 = table.restore(v1)
        if _os.path.exists(table._data_dir(v3)):
            raise RuntimeError("restore wrote data files")
        if table.versions() != [v1, v2, v3]:
            raise RuntimeError(
                f"restore dropped history: {table.versions()}"
            )
        # the undone commit is still auditable
        bad = (
            table.read(version=v2)
            .filter(F.col("event_id") > 1000000)
            .count()
        )
        if bad == 0:
            raise RuntimeError("bad version no longer readable")
        agg = (
            table.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# ANALYZE-style stats backfill (ManifestSnapshotTable.backfill_stats):
# a table loaded BEFORE stats_cols was configured earns both zone-map
# tiers in one scan + one metadata-only commit — no data file moves
# (asserted in-plan) — after which COUNT(*) is answered from metadata
# alone (scanned == 0, asserted) and range reads prune.  The oracle
# recomputes the pruned range aggregate declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_analyze_backfill",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), staged AS (
        SELECT * FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    ), lo_hi AS (
        SELECT MIN(event_id) AS lo,
               MIN(event_id) + (MAX(event_id) - MIN(event_id)) // 4 AS hi
        FROM latest
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM latest, lo_hi
    WHERE event_id BETWEEN lo AND hi
    GROUP BY event_type
    """,
    doc="ANALYZE zone-map backfill (backfill_stats): a pre-stats table "
    "earns fragment+file envelopes in one scan + a metadata-only "
    "commit (no file moves, asserted); COUNT(*) then comes from "
    "metadata alone and the range read prunes; oracle recomputes the "
    "range aggregate declaratively",
)
def q_manifest_analyze_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os

    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "anlz",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    ) as loader:
        # loaded WITHOUT stats_cols: no envelopes anywhere
        loader.upsert(e.filter(F.col("event_id") % 3 == 0))
        holders = loader.manifest()
        table = ManifestSnapshotTable(
            spark,
            loader.path,
            keys=["user_id", "event_type"],
            order_cols=["ts_nanos", "event_id"],
            partition_by=["event_type"],
            stats_cols=["event_id"],
        )
        v = table.backfill_stats()
        if _os.path.exists(table._data_dir(v)):
            raise RuntimeError("backfill_stats wrote data files")
        if table.manifest() != holders:
            raise RuntimeError("backfill_stats moved data holders")
        n, meta, scanned = table.count_rows()
        if scanned != 0:
            raise RuntimeError(
                f"COUNT(*) still scans {scanned} fragments after "
                "backfill"
            )
        lo, hi_all, *_ = table.metadata_min_max("event_id")
        hi = lo + (hi_all - lo) // 4
        df, _fk, _ft, _flk, _flt = table.read_where("event_id", lo, hi)
        agg = df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Generated partition columns (ManifestSnapshotTable
# generated_partitions — Delta generated columns, the date-bucketed
# fact-table shape): write batches OMIT the partition column entirely;
# the table derives it from the declared expression, persists the
# derivation in the manifest (every writer handle derives
# identically), and proves in-plan that a batch carrying a
# non-matching value is refused via the single-pass observe check.
# The oracle applies the same derivation declaratively.
# ---------------------------------------------------------------------------
@register(
    "manifest_generated_partitions",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), mn AS (
        SELECT MIN(tsn) AS m FROM src
    ), staged AS (
        SELECT *, CAST((tsn - (SELECT m FROM mn)) // 86400000000000
                       AS INT) AS day
        FROM src WHERE event_id % 3 = 0
    ), latest AS (
        SELECT day, user_id, event_type, event_id FROM (
            SELECT day, user_id, event_type, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY day, user_id, event_type
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM staged) WHERE rn = 1
    )
    SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM latest GROUP BY day, event_type
    """,
    doc="generated partition columns (generated_partitions, the Delta "
    "generated-columns shape): batches omit the day bucket — derived "
    "from the declared expression, persisted in the manifest, and "
    "enforced by a single-pass observe when a batch carries a value "
    "(mismatch refused, asserted in-plan); oracle derives identically",
)
def q_manifest_generated_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    day_ns = 86_400_000_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    dmin = int(e.agg(F.min("ts_nanos")).first()[0])
    expr = f"CAST((ts_nanos - {dmin}) DIV {day_ns} AS INT)"
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "genp",
        keys=["day", "user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["day"],
        generated_partitions={"day": expr},
    ) as table:
        # the batch has NO day column — the table derives it
        table.upsert(e.filter(F.col("event_id") % 3 == 0))
        if not all(f.startswith("day=") for f in table.manifest()):
            raise RuntimeError(
                f"unexpected fragments: {sorted(table.manifest())}"
            )
        # a batch carrying a WRONG day must be refused (observe check)
        try:
            table.upsert(
                e.filter(F.col("event_id") % 3 == 0)
                .limit(5)
                .withColumn("day", F.lit(999))
            )
            raise RuntimeError(
                "mismatching generated value was not refused"
            )
        except ValueError:
            pass
        agg = (
            table.read()
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
        )
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# Partition evolution (ManifestSnapshotTable.compact(partition_by=…) —
# the Delta/Iceberg re-partitioning verb, VERDICT r10 item 5): one full
# rewrite (which compaction pays anyway) moves the table from its
# creation-time scheme to a NEW one — here event_type → a GENERATED
# bucket column the data never carried — without rewriting history.
# Proved in-plan: the pre-evolution manifest keeps its event_type=*
# layout and stays readable by version (the 'pre' half of the result IS
# a time-travel read across the boundary); the evolved manifest is
# bucket=*; a later pruned upsert under the new scheme rewrites ONLY
# the buckets its batch touches (holder-move assertion).  The oracle
# recomputes both snapshots declaratively: last-write-wins over batch1
# for 'pre', over batch1+batch2 for 'post', both grouped by the
# derived bucket.
# ---------------------------------------------------------------------------
@register(
    "manifest_partition_evolution",
    """
    WITH src AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn
        FROM events
    ), b1 AS (
        SELECT *, 1 AS b FROM src WHERE event_id % 3 = 0
    ), b2 AS (
        SELECT *, 2 AS b FROM src
        WHERE event_id % 5 = 0 AND user_id % 8 < 3
    ), pre AS (
        SELECT user_id, event_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                ORDER BY tsn DESC, event_id DESC) AS rn
            FROM b1) WHERE rn = 1
    ), post AS (
        SELECT user_id, event_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                ORDER BY tsn DESC, event_id DESC, b DESC) AS rn
            FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        ) WHERE rn = 1
    )
    SELECT 'pre' AS snapshot, CAST(user_id % 8 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM pre GROUP BY 2
    UNION ALL
    SELECT 'post', CAST(user_id % 8 AS INT),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(event_id) AS BIGINT)
    FROM post GROUP BY 2
    """,
    doc="partition evolution: compact(partition_by=…) re-partitions "
    "event_type=* to a generated bucket=* scheme in one rewrite; old "
    "snapshots stay readable under their own layout (the 'pre' rows "
    "are a time-travel read across the boundary), later pruned "
    "upserts rewrite only touched buckets (asserted in-plan); oracle "
    "replays both snapshots declaratively",
)
def q_manifest_partition_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.upsert import ManifestSnapshotTable
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "pevo",
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
        stable_partitions=True,  # bucket derives from the key user_id
    ) as table:
        v1 = table.upsert(e.filter(F.col("event_id") % 3 == 0))
        v2 = table.compact(
            partition_by=["bucket"],
            generated_partitions={"bucket": "CAST(user_id % 8 AS INT)"},
        )
        old_doc = table._manifest_doc(v1)
        new_doc = table._manifest_doc(v2)
        if not all(
            f.startswith("event_type=") for f in old_doc["partitions"]
        ):
            raise RuntimeError("pre-evolution layout was rewritten")
        if not all(f.startswith("bucket=") for f in new_doc["partitions"]):
            raise RuntimeError(
                f"evolved manifest not bucket-partitioned: {new_doc}"
            )
        # pruned commit under the NEW scheme: the batch touches only
        # buckets 0-2, so exactly those holders may move
        v3 = table.upsert(
            e.filter(
                (F.col("event_id") % 5 == 0) & (F.col("user_id") % 8 < 3)
            )
        )
        moved = sorted(
            k for k, v in table.manifest().items() if v == v3
        )
        if not moved or not set(moved) <= {
            "bucket=0", "bucket=1", "bucket=2"
        }:
            raise RuntimeError(
                f"post-evolution upsert rewrote unexpected buckets: {moved}"
            )
        pre = (
            table.read(version=v1)
            .select(
                (F.col("user_id") % 8).cast("int").alias("bucket"),
                "event_id",
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
            .select(F.lit("pre").alias("snapshot"), "*")
        )
        # 'post' groups by the STORED partition column — proving the
        # derivation materialized physically under the new scheme
        post = (
            table.read()
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
            )
            .select(F.lit("post").alias("snapshot"), "*")
        )
        return materialize_bounded(spark, pre.unionByName(post))
