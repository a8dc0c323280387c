"""Row-group-tier skipping (VERDICT r11 item 4): inside a file the
manifest's zone maps kept, the parquet reader must prune ROW GROUPS —
which only happens when (a) `read_where`'s residual predicate reaches
the scan as PushedFilters and (b) `compact(cluster_by=…)`'s in-file
sort has tightened row-group min/max.  These tests pin both, measuring
rows MATERIALIZED by the scan (`_scan_rows_read`) against rows kept —
clustered vs unclustered at equal logical content."""

import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)

ROWS = 400_000
FRAG = 100_000  # rows per day fragment


def _walk(node):
    yield node
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        # the final (re-planned) physical plan lives behind the wrapper
        yield from _walk(node.executedPlan())
    elif "QueryStage" in name:
        # AQE stage wrappers (Shuffle/Broadcast/ResultQueryStage) hold
        # their materialized subtree in plan(), not children()
        yield from _walk(node.plan())
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _scan_metrics(df) -> list[dict[str, int]]:
    """Per-scan-node metric maps ({metric key -> value}) from ``df``'s
    EXECUTED plan — call after an action (collect/count) has run the
    frame, or the metrics are zero.  Keys are Spark's internal metric
    names (``numOutputRows``, ``numFiles``, ``filesSize``, ...)."""
    plan = df._jdf.queryExecution().executedPlan()
    out: list[dict[str, int]] = []
    for node in _walk(plan):
        if "Scan" not in node.nodeName():
            continue
        metrics: dict[str, int] = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append(metrics)
    return out


def _scan_rows_read(df) -> int:
    """Total rows materialized by ``df``'s file scans (sum of the scan
    nodes' ``numOutputRows`` after execution).  With parquet filter
    pushdown this counts rows in SURVIVING row groups only — on a
    range-clustered layout it should track the predicate's selectivity,
    not the file sizes."""
    return sum(m.get("numOutputRows", 0) for m in _scan_metrics(df))


@pytest.fixture()
def small_rowgroups(spark):
    """Shrink parquet row groups so a test-sized file holds many —
    at production block size a test file is one row group and the
    row-group tier has nothing to show."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    yield
    if old is None:
        hconf.unset("parquet.block.size")
    else:
        hconf.set("parquet.block.size", old)


def _table(spark, path, cluster_by=None) -> ManifestSnapshotTable:
    """x tracks the key order (the merge write always key-sorts files,
    so x is row-group-friendly for free); y is a deterministic scatter
    of the same domain — selective row groups on y exist ONLY after
    an explicit cluster_by=["y"] rewrite."""
    t = ManifestSnapshotTable(
        spark,
        path,
        keys=["day", "id"],
        order_cols=["id"],
        partition_by=["day"],
        stats_cols=["x", "y"],
    )
    df = (
        spark.range(ROWS)
        .withColumn("day", (F.col("id") / FRAG).cast("int"))
        .withColumn("x", F.col("id"))
        .withColumn("y", (F.col("id") * 2654435761) % ROWS)
    )
    t.upsert(df)
    if cluster_by:
        t.compact(cluster_by=cluster_by, cluster_files=16)
    return t


def test_residual_predicate_reaches_scan_and_prunes_rowgroups(
    spark, tmp_path, small_rowgroups
):
    t = _table(spark, str(tmp_path / "clustered"), cluster_by=["x"])
    lo, hi = 42_000, 42_999
    df, fk, ftot, filek, filet = t.read_where("x", lo, hi)
    got = df.count()
    assert got == hi - lo + 1
    assert fk == 1 and ftot == 4          # fragment tier
    assert 0 < filek < filet              # file tier

    # the residual predicate is pushed into the parquet scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(x,42000" in plan, plan

    # row-group tier: the scan materialized only the row groups whose
    # min/max intersect the range — a small multiple of the rows kept,
    # nowhere near the surviving files' full content
    df.collect()
    read = _scan_rows_read(df)
    surviving_file_rows = FRAG // max(filek, 1) * filek  # upper-ish bound
    assert got <= read < surviving_file_rows // 4, (
        got,
        read,
        filek,
        filet,
    )


def test_clustering_tightens_rowgroups_vs_unclustered(
    spark, tmp_path, small_rowgroups
):
    lo, hi = 42_000, 42_999
    reads = {}
    for label, cb in (("clustered", ["y"]), ("unclustered", None)):
        t = _table(spark, str(tmp_path / label), cluster_by=cb)
        df, _, _, filek, _ = t.read_where("y", lo, hi)
        rows = df.collect()
        assert len(rows) == len(
            {i for i in range(ROWS) if lo <= (i * 2654435761) % ROWS <= hi}
        )
        reads[label] = (_scan_rows_read(df), filek)
    # same rows kept; the un-clustered layout's files are KEY-sorted,
    # so y's row-group (and file) min/max span the whole domain and
    # the scan materializes ~everything the file tier kept, while the
    # y-clustered rewrite concentrates the range into few files AND
    # few row groups — rows-read must drop by a large factor
    assert reads["clustered"][0] * 10 < reads["unclustered"][0], reads


def test_scan_metrics_reports_files_and_rows(spark, tmp_path, small_rowgroups):
    t = _table(spark, str(tmp_path / "m"), cluster_by=["x"])
    df, *_ = t.read_where("x", 0, 499)
    df.collect()
    ms = _scan_metrics(df)
    assert ms and all("numOutputRows" in m for m in ms)
    assert sum(m.get("numFiles", 0) for m in ms) >= 1
