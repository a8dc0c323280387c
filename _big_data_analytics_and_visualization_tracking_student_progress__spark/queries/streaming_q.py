"""Streaming query registrations (SURVEY.md §2.8, M3): each entry runs a
REAL Structured Streaming query over the `events` fixture (file-stream
source, availableNow trigger, checkpointed sink) and returns the final
result as a batch DataFrame, so the driver's DuckDB oracle can check the
stream's end-to-end output against batch semantics.

Window starts are epoch-aligned on both engines (Spark `window()` default
origin ⇔ DuckDB `time_bucket`), timestamps are emitted as formatted
strings, and double sums go through DECIMAL — the same determinism rules
as the batch queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import dround, dsum
from ..localframe import empty_frame
from ..operators.upsert import ManifestSnapshotTable
from ..registry import register
from ..sources import events_file_stream
from ..streaming.pipeline import (
    _workdir,
    append_sink_run,
    cdc_stream,
    refresh_sink_run,
    session_agg,
    sliding_agg,
    tumbling_agg,
    upsert_stream_run,
)

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


_STAGED: dict[str, str] = {}


def _events_path(sf_dir: str) -> str:
    """The file-stream source requires a *directory* to watch; the fixture
    is a single parquet file.  Stage it once per sf_dir into a temp dir
    via hardlink (zero-copy) — exactly the "drop a file into the watched
    folder" shape of the reference's watchdog source (pro.py:94-108)."""
    if sf_dir not in _STAGED:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="sparkgraft_events_dir_")
        src = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(src):
            # multi-file layout (e.g. the scale smoke's Nx replica
            # directories): stage every part file into the watched dir
            for i, name in enumerate(sorted(os.listdir(src))):
                if not name.endswith(".parquet"):
                    continue
                dst = os.path.join(d, f"events-{i:05d}.parquet")
                try:
                    os.link(os.path.join(src, name), dst)
                except OSError:
                    shutil.copyfile(os.path.join(src, name), dst)
        else:
            dst = os.path.join(d, "events.parquet")
            try:
                os.link(src, dst)
            except OSError:
                shutil.copyfile(src, dst)
        _STAGED[sf_dir] = d
    return _STAGED[sf_dir]


# ---------------------------------------------------------------------------
# T1/T-window — watermarked tumbling window aggregation
# ---------------------------------------------------------------------------
@register(
    "stream_tumbling_counts",
    f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_FMT_DUCK}')
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="streaming tumbling 1h window × event_type counts/sums (watermark 10m, availableNow)",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir))
    agg = tumbling_agg(
        ev,
        window="1 hour",
        watermark="10 minutes",
        group_extra=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 6).cast("double").alias("total_value"),
        ],
    )
    out = refresh_sink_run(spark, agg, output_mode="complete")
    return out.select(
        F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


# ---------------------------------------------------------------------------
# T1/T-window — the same tumbling aggregate in APPEND mode: the 100 TB
# form.  Complete mode (above) retains every window's state forever and
# re-emits the whole result each batch — fine for a dashboard-refresh
# sink over availableNow fixtures, a scale-killer on an unbounded
# stream.  Append mode + watermark is the production shape: a window's
# state is EVICTED (and the row emitted exactly once) when the watermark
# passes its end, so state is O(windows within the lateness horizon) and
# sink traffic is one row per closed window.  The oracle is the batch
# aggregate restricted to closed windows: window_end <= max(ts) - delay
# (Spark's final watermark under availableNow; the trailing open window
# stays in state and is not emitted).
# ---------------------------------------------------------------------------
@register(
    "stream_tumbling_append",
    f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_FMT_DUCK}')
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events, wm
    WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
    doc="streaming tumbling 1h window × event_type in APPEND mode: "
    "watermark-evicted bounded state, one emit per closed window — the "
    "unbounded-stream form of stream_tumbling_counts (its complete-mode "
    "sibling is the dashboard-refresh shape)",
)
def q_stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir))
    agg = tumbling_agg(
        ev,
        window="1 hour",
        watermark="10 minutes",
        group_extra=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 6).cast("double").alias("total_value"),
        ],
    )
    out = append_sink_run(spark, agg)
    return out.select(
        F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows
# ---------------------------------------------------------------------------
@register(
    "stream_sliding_avg",
    f"""
    WITH shifted AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value
        FROM events
    )
    SELECT strftime(ws, '{_TS_FMT_DUCK}') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS avg_value
    FROM shifted GROUP BY ws
    """,
    doc="streaming sliding window (1h width, 30m hop) event-rate average",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir))
    agg = sliding_agg(
        ev,
        window="1 hour",
        slide="30 minutes",
        watermark="10 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            dround(
                dsum(F.col("value"), 6).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_value"),
        ],
    )
    out = refresh_sink_run(spark, agg, output_mode="complete")
    return out.select(
        F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
        "n",
        "avg_value",
    )


# ---------------------------------------------------------------------------
# Session windows (gaps-and-islands in the batch oracle)
# ---------------------------------------------------------------------------
@register(
    "stream_session_windows",
    f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    doc="streaming session windows (30m gap) per user vs gaps-and-islands batch oracle",
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir))
    agg = session_agg(
        ev,
        gap="30 minutes",
        watermark="10 minutes",
        key="user_id",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).cast("double").alias("total_value"),
        ],
    )
    out = refresh_sink_run(spark, agg, output_mode="complete")
    return out.select(
        "user_id",
        F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Sliding windows in APPEND mode — the 100 TB form of stream_sliding_avg.
# Complete mode keeps every window's state forever and re-emits the whole
# result per batch; append + watermark EVICTS a window (emitting its row
# exactly once) when the watermark passes its end, so state is bounded by
# the lateness horizon × window/slide overlap.  Oracle = the batch hop
# expansion restricted to closed windows: window_start + 1h <= max(ts) −
# 10m (Spark's final availableNow watermark; trailing open windows stay
# in state and are never emitted) — the same recipe that is driver-green
# for stream_tumbling_append.
# ---------------------------------------------------------------------------
@register(
    "stream_sliding_append",
    f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    shifted AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value
        FROM events
    )
    SELECT strftime(ws, '{_TS_FMT_DUCK}') AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS avg_value
    FROM shifted, wm
    WHERE ws + INTERVAL 1 HOUR <= wm.w
    GROUP BY ws
    """,
    doc="streaming sliding window (1h/30m) average in APPEND mode: "
    "watermark-evicted bounded state, one emit per closed window — the "
    "unbounded-stream form of stream_sliding_avg (complete mode stays "
    "as the dashboard-refresh sibling)",
)
def q_stream_sliding_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir))
    agg = sliding_agg(
        ev,
        window="1 hour",
        slide="30 minutes",
        watermark="10 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            dround(
                dsum(F.col("value"), 6).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_value"),
        ],
    )
    out = append_sink_run(spark, agg)
    return out.select(
        F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
        "n",
        "avg_value",
    )


# ---------------------------------------------------------------------------
# Session windows in APPEND mode — the 100 TB form of
# stream_session_windows.  A session's state is evicted (its single row
# emitted) once the watermark passes the session END (= last event ts +
# gap, after merging), so state is O(open sessions within the lateness
# horizon).  Oracle = the gaps-and-islands batch sessionization
# restricted to closed sessions: MAX(ts) + 30m gap <= max(all ts) − 10m.
# ---------------------------------------------------------------------------
@register(
    "stream_session_append",
    f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM sess, wm
    GROUP BY user_id, sid, wm.w
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm.w
    """,
    doc="streaming session windows (30m gap) in APPEND mode: "
    "watermark-evicted bounded state, one emit per closed session — the "
    "unbounded-stream form of stream_session_windows",
)
def q_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir))
    agg = session_agg(
        ev,
        gap="30 minutes",
        watermark="10 minutes",
        key="user_id",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).cast("double").alias("total_value"),
        ],
    )
    out = append_sink_run(spark, agg)
    return out.select(
        "user_id",
        F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# S5/T2 — keyed upsert sink, idempotent under full replay
# ---------------------------------------------------------------------------
@register(
    "stream_keyed_upsert",
    f"""
    SELECT user_id, event_type, event_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="streaming keyed MERGE sink (latest event per user×type), run twice to prove replay idempotency (T2)",
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    wd = _workdir("upsert_q")
    table = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "table"),
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
    )
    # Two full replays from scratch (fresh checkpoints) — the keyed merge
    # makes the second a no-op, which is the T2 effectively-once claim.
    for run in ("r1", "r2"):
        ev = events_file_stream(spark, _events_path(sf_dir))
        upsert_stream_run(
            spark, ev, table, workdir=os.path.join(wd, run)
        )
    out = table.read()
    assert out is not None
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "value",
    )


# ---------------------------------------------------------------------------
# S5/T2 over the incremental-manifest table: the streaming sink commits
# each micro-batch as a changed-partitions-only MVCC snapshot (the
# 100 TB fact-table commit shape), and a full second replay converges
# to the same state — effectively-once on top of manifest commits.
# ---------------------------------------------------------------------------
@register(
    "stream_manifest_commits",
    """
    WITH latest AS (
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_latest_event_id
    FROM latest GROUP BY event_type
    """,
    doc="streaming sink into ManifestSnapshotTable: each micro-batch "
    "commits only the partitions it touches (manifest-inherited MVCC); "
    "run twice from scratch to prove replay idempotency of incremental "
    "commits (T2)",
)
def q_stream_manifest_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    wd = _workdir("manifest_q")
    table = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "table"),
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    )
    for run in ("r1", "r2"):
        ev = events_file_stream(spark, _events_path(sf_dir)).select(
            "user_id", "event_type", "event_id", "ts_nanos"
        )
        upsert_stream_run(spark, ev, table, workdir=os.path.join(wd, run))
    out = table.read()
    assert out is not None
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("event_id").cast("bigint").alias("sum_latest_event_id"),
    )


def _stage_single_file(df: DataFrame, watch: str, name: str, mtime: int) -> None:
    """Write `df` as ONE parquet file named `name` inside the watched
    dir with a pinned mtime, so the file-stream source (which orders
    files by modification time) delivers the staged batches in a
    deterministic sequence."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sparkgraft_stage_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            os.path.join(tmp, n)
            for n in sorted(os.listdir(tmp))
            if n.endswith(".parquet")
        )
        os.makedirs(watch, exist_ok=True)
        dst = os.path.join(watch, name)
        os.replace(part, dst)
        os.utime(dst, (mtime, mtime))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming continuous aggregate: the manifest sink commits each
# micro-batch as a changed-partitions-only snapshot AND an
# IncrementalAggView refreshes after every commit — the rollup the
# reference recomputes from the full index on every dashboard load
# (app.py:58) is instead maintained at O(partitions touched per batch).
# Same staged input split and same oracle as the batch
# matview_incremental_refresh, so this also proves stream ≡ batch.
# ---------------------------------------------------------------------------
@register(
    "stream_matview_refresh",
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
    doc="streaming continuous aggregate: file stream → manifest-table "
    "MERGE sink with a per-micro-batch IncrementalAggView refresh; the "
    "second batch touches only the click partition and its refresh "
    "recomputes exactly 1 fragment (proved from view.refresh_log); "
    "final view state equals the batch declarative aggregate",
)
def q_stream_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datasets import load_table
    from ..operators.matview import IncrementalAggView

    day_ns = 86_400_000_000_000
    wd = _workdir("matview_q")
    watch = os.path.join(wd, "in")
    os.makedirs(watch, exist_ok=True)
    # stage the two micro-batches as single files with pinned mtimes:
    # batch 1 hits every event_type partition, batch 2 ONLY click
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.col("ts_nanos").alias("ts"),
    )
    _stage_single_file(
        e.filter(F.col("event_id") % 3 == 0), watch, "b1.parquet", 1_000_000_000
    )
    _stage_single_file(
        e.filter(
            (F.col("event_id") % 3 == 1) & (F.col("event_type") == "click")
        ),
        watch, "b2.parquet", 1_000_000_100,
    )
    table = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "table"),
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    )
    view = IncrementalAggView(
        spark,
        os.path.join(wd, "mv"),
        table,
        group_cols=["day_num"],
        measures=[
            ("n_keys", None, "count"),
            ("sum_event_id", "event_id", "sum"),
            ("max_ts_nanos", "ts_nanos", "max"),
        ],
        prepare=lambda df: df.withColumn(
            "day_num", F.expr(f"ts_nanos DIV {day_ns}")
        ),
    )
    ev = events_file_stream(spark, watch, max_files_per_trigger=1).select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    upsert_stream_run(
        spark, ev, table, workdir=os.path.join(wd, "run"), view=view
    )
    # in-plan incrementality proof (explicit raise — survives python -O):
    # batch 2 touched only the click partition, so its refresh recomputed
    # exactly one fragment and inherited every other partial untouched
    log = view.refresh_log
    if (
        len(log) != 2
        or log[1]["recomputed"] != 1
        or log[1]["inherited"] != log[1]["total"] - 1
    ):
        raise RuntimeError(
            f"streaming matview refresh was not incremental: {log}"
        )
    out = view.read()
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# CDC apply with delete tombstones: the Debezium op='d' shape — a
# streaming change feed where some records are deletion markers for
# their key.  The sink applies each micro-batch's latest record per key
# as an upsert OR a partition-pruned keyed DELETE.  Staged as one
# micro-batch so the oracle is the pure declarative form: latest per
# key, keys whose latest record is a tombstone absent from the table.
# ---------------------------------------------------------------------------
@register(
    "stream_cdc_tombstones",
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
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM latest WHERE event_id % 10 <> 7
    GROUP BY event_type
    """,
    doc="streaming CDC apply with delete tombstones (Debezium op='d'): "
    "records with event_id % 10 = 7 are deletion markers; the sink "
    "applies each batch's latest record per key as an upsert or a "
    "partition-pruned keyed DELETE — keys whose latest record is a "
    "tombstone are absent from the final table",
)
def q_stream_cdc_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(spark, _events_path(sf_dir)).select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )

    wd = _workdir("tombstone_q")
    table = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "table"),
        keys=["user_id", "event_type"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["event_type"],
    )
    upsert_stream_run(
        spark,
        ev,
        table,
        workdir=os.path.join(wd, "run"),
        tombstone_predicate=F.col("event_id") % 10 == 7,
    )
    out = table.read()
    assert out is not None
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    )


# ---------------------------------------------------------------------------
# P6/T3 — CDC anti-join inside the stream
# ---------------------------------------------------------------------------
_CDC_COLS = ["event_id", "event_type", "props", "user_id"]


@register(
    "stream_cdc_changed",
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
    doc="streaming CDC: stream-static row-hash anti-join vs snapshot, append sink (pro.py:46-55 as a stream)",
)
def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datasets import load_table

    ev = events_file_stream(spark, _events_path(sf_dir)).select(*_CDC_COLS)
    snapshot = (
        load_table(spark, sf_dir, "events")
        .select(*_CDC_COLS)
        .filter(F.col("event_id") % 10 != 0)
    )
    changed = cdc_stream(ev, snapshot, _CDC_COLS)
    out = append_sink_run(spark, changed)
    return out.select("event_id", "user_id", "event_type", "props")


# ---------------------------------------------------------------------------
# E1→E2 end-to-end ingest: file stream → CDC → canonical typed rows with
# composite key + dated partition → keyed MERGE sink.  This is the
# reference's whole producer/consumer pipeline (pro.py + con.py) as ONE
# declarative streaming query.
# ---------------------------------------------------------------------------
@register(
    "stream_ingest_e2e",
    """
    SELECT concat_ws('_', event_type, CAST(user_id AS VARCHAR),
                     CAST(event_id AS VARCHAR)) AS doc_id,
           event_id, user_id, event_type,
           strftime(ts, '%Y.%m.%d') AS index_date,
           CASE WHEN event_type = 'purchase' THEN value END AS purchase_value,
           CASE WHEN event_type = 'error' THEN value END AS error_value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
    FROM events WHERE event_id % 10 = 0
    """,
    doc="E1+E2 pipeline: stream → row-hash CDC → typed derive (F7/F13/F14/F15) → date-partitioned keyed upsert",
)
def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datasets import load_table
    from ..functions.scalar import composite_key

    ev = events_file_stream(spark, _events_path(sf_dir))
    snapshot = (
        load_table(spark, sf_dir, "events")
        .select(*_CDC_COLS)
        .filter(F.col("event_id") % 10 != 0)
    )
    changed = cdc_stream(ev, snapshot, _CDC_COLS)
    canonical = changed.select(
        composite_key(
            F.col("event_type"), F.col("user_id"), F.col("event_id")
        ).alias("doc_id"),
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy.MM.dd").alias("index_date"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "purchase_value"
        ),
        F.when(F.col("event_type") == "error", F.col("value")).alias(
            "error_value"
        ),
        F.get_json_object("props", "$.k").cast("bigint").alias("props_k"),
        "ts_nanos",
    )
    wd = _workdir("ingest_e2e")
    table = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "table"),
        keys=["doc_id"],
        order_cols=["ts_nanos", "event_id"],
        partition_by=["index_date"],
        # doc_id embeds event_id and index_date derives from the event's
        # immutable ts, so a key can never change partition — pruned
        # MERGE rewrites only the days present in each micro-batch
        stable_partitions=True,
    )
    out = upsert_stream_run(
        spark, canonical, table, workdir=os.path.join(wd, "run")
    )
    return out.select(
        "doc_id",
        "event_id",
        "user_id",
        "event_type",
        "index_date",
        "purchase_value",
        "error_value",
        "props_k",
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join: purchases joined to the same user's
# clicks within the prior 15 minutes — watermarked on BOTH sides so
# join state is evicted as event time advances.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_join",
    f"""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts,
           strftime(c.ts, '{_TS_FMT_DUCK}') AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 15 MINUTE
    """,
    doc="stream-stream interval join (watermarked both sides, bounded state) vs batch range-join oracle",
)
def q_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import interval_stream_join

    purchases = events_file_stream(spark, _events_path(sf_dir)).filter(
        F.col("event_type") == "purchase"
    ).select(F.col("event_id").alias("p_id"), "user_id", "ts")
    clicks = events_file_stream(spark, _events_path(sf_dir)).filter(
        F.col("event_type") == "click"
    ).select(F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    joined = interval_stream_join(
        purchases.withColumnRenamed("user_id", "user_id"),
        clicks.withColumnRenamed("c_user", "user_id").withColumnRenamed("c_ts", "ts"),
        key="user_id",
        watermark="30 minutes",
        max_lag="15 minutes",
    )
    out = append_sink_run(
        spark,
        joined.select(
            F.col("l.p_id").alias("purchase_id"),
            F.col("r.c_id").alias("click_id"),
            F.col("l.user_id").alias("user_id"),
            F.date_format(F.col("l.ts"), _TS_FMT_SPARK).alias("purchase_ts"),
            F.date_format(F.col("r.ts"), _TS_FMT_SPARK).alias("click_ts"),
        ),
    )
    return out


# ---------------------------------------------------------------------------
# T3 — streaming dedup: the same file delivered twice (two micro-batches
# via maxFilesPerTrigger=1); state-store dropDuplicates suppresses the
# replayed copies across batches.  Unbounded keys ⇒ production bounds
# the state with dropDuplicatesWithinWatermark; exact-key dedup is used
# here so the output is oracle-comparable.
# ---------------------------------------------------------------------------
_DUP_STAGED: dict[str, str] = {}


def _events_path_duplicated(sf_dir: str) -> str:
    if sf_dir not in _DUP_STAGED:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="sparkgraft_events_dup_")
        src = os.path.join(sf_dir, "events.parquet")
        # single file OR a directory of part files (the realistic Nx
        # ingest layout the scale smoke stages) — either way, deliver
        # every data file twice under distinct names
        parts = (
            [os.path.join(src, n) for n in sorted(os.listdir(src))
             if n.endswith(".parquet")
             and os.path.isfile(os.path.join(src, n))]
            if os.path.isdir(src)
            else [src]
        )
        if not parts:
            # fail HERE, not later with a baffling empty-dir schema
            # inference error from the staged temp dir
            raise ValueError(
                f"no top-level *.parquet data files under {src!r} — "
                "nested/hive-partitioned events layouts are not "
                "supported by the double-delivery fixture"
            )
        for copy in ("a", "b"):
            for i, p in enumerate(parts):
                dst = os.path.join(d, f"{copy}-{i:05d}.parquet")
                try:
                    os.link(p, dst)
                except OSError:
                    shutil.copyfile(p, dst)
        _DUP_STAGED[sf_dir] = d
    return _DUP_STAGED[sf_dir]


@register(
    "stream_dedup_replay",
    f"""
    SELECT event_id, user_id, event_type,
           strftime(ts, '{_TS_FMT_DUCK}') AS ts_s
    FROM events
    """,
    doc="streaming dropDuplicates state across micro-batches: double-delivered file collapses to one copy (T3)",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(
        spark, _events_path_duplicated(sf_dir), max_files_per_trigger=1
    )
    deduped = ev.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
    )
    return append_sink_run(spark, deduped)


# ---------------------------------------------------------------------------
# Stream-static join: streaming facts against a batch dimension — the
# canonical enrich-then-aggregate.  The static side is broadcast to every
# micro-batch task; no state store is involved for the join itself.
# ---------------------------------------------------------------------------
@register(
    "stream_static_dim_join",
    """
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(22,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="stream-static broadcast dim join (events enriched with customer segment) + streaming aggregate",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..datasets import load_table

    ev = events_file_stream(spark, _events_path(sf_dir))
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 6).cast("double").alias("total_value"),
    )
    return refresh_sink_run(spark, agg, output_mode="complete")


# ---------------------------------------------------------------------------
# Streaming HLL distinct sketch — the register build (operators/
# sketches.py) is a stateless projection + a groupBy-MAX, which
# Structured Streaming maintains natively as running state: at most
# 2^p register rows of state, no per-key distinct state, and the
# MAX-monoid makes the result independent of micro-batch boundaries.
# The oracle is the identical batch SQL — the stream must converge to
# the exact same registers and estimate.
# ---------------------------------------------------------------------------
@register(
    "stream_hll_distinct_users",
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
    doc="streaming HLL: running distinct-user sketch as a native "
    "streaming groupBy-MAX (<= 2^p rows of state), estimate read from "
    "the final register sink; converges to the batch sketch exactly",
)
def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_estimate, hll_registers

    ev = events_file_stream(spark, _events_path(sf_dir))
    regs = hll_registers(ev, F.col("user_id"), p=4)
    out = refresh_sink_run(spark, regs, output_mode="complete")
    return hll_estimate(out, p=4)


# ---------------------------------------------------------------------------
# Streaming curation: the north-star curation pipeline (quality gate →
# PII scrub-hash → exact dedup on scrubbed content → split) run as a
# REAL Structured Streaming job.  Documents arrive through the file
# stream; the quality/scrub/hash expressions run map-side per
# micro-batch (text never reaches the sink); dedup is the keyed MERGE
# sink itself — key = content_hash, election = min doc_id (replay- and
# batch-boundary-independent: merging any batch twice, or splitting the
# input across micro-batches, converges to the same survivors).  The
# oracle is the BATCH curation SQL, proving stream ≡ batch end-to-end.
# ---------------------------------------------------------------------------
_DOC_STAGED: dict[str, str] = {}


def _documents_path(sf_dir: str) -> str:
    if sf_dir not in _DOC_STAGED:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="sparkgraft_docs_dir_")
        src = os.path.join(sf_dir, "documents.parquet")
        dst = os.path.join(d, "documents.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
        _DOC_STAGED[sf_dir] = d
    return _DOC_STAGED[sf_dir]


def _stream_curation_sql() -> str:
    from .northstar import _BUCKET_SQL, _QUALITY_SQL, _SCRUB_SQL, _sw_sql

    quality = "FLOOR({q} * 10000.0 + 0.5) / 10000.0".format(
        q=_QUALITY_SQL.format(sw=_sw_sql("en"))
    )
    return f"""
    WITH kept AS (
        SELECT doc_id, lang, text, {quality} AS quality
        FROM documents
        WHERE text IS NOT NULL AND {quality} >= 0.5
    ), cleaned AS (
        SELECT doc_id, lang, quality, {_SCRUB_SQL} AS clean FROM kept
    ), dedup AS (
        SELECT * FROM cleaned
        WHERE doc_id IN (SELECT min(doc_id) FROM cleaned GROUP BY md5(clean))
    )
    SELECT doc_id, lang, quality, md5(clean) AS content_hash,
           CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM dedup
    """


@register(
    "stream_curation_pipeline",
    _stream_curation_sql(),
    doc="streaming curation: quality gate → PII scrub-hash → keyed-MERGE "
    "exact dedup (min doc_id wins) → leakage-free split, checked against "
    "the batch curation SQL — stream ≡ batch",
)
def q_stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    return run_stream_curation(spark, _documents_path(sf_dir), schema)


def run_stream_curation(
    spark: SparkSession,
    docs_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Core of stream_curation_pipeline, parameterized on the watched
    directory so tests can split the input across files and prove the
    survivors are micro-batch-boundary independent."""
    from ..functions.scalar import dround
    from ..operators import sampling as SA
    from ..operators import text as T

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(docs_dir)
    kept = (
        sdf.filter(F.col("text").isNotNull())
        .withColumn("quality", dround(T.quality_score(F.col("text")), 4))
        .filter(F.col("quality") >= 0.5)
        .select(
            "doc_id",
            "lang",
            "quality",
            F.md5(T.scrub_text(F.col("text"))).alias("content_hash"),
            # keyed MERGE keeps the max of order_cols; negating the id
            # makes "min doc_id wins" the merge's fixed point
            (-F.col("doc_id")).alias("neg_id"),
        )
    )
    wd = _workdir("stream_curation")
    table = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "table"),
        keys=["content_hash"],
        order_cols=["neg_id"],
    )
    out = upsert_stream_run(spark, kept, table, workdir=wd)
    split = SA.hash_split(
        out.drop("neg_id"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.select("doc_id", "lang", "quality", "content_hash", "split")


# ---------------------------------------------------------------------------
# Streaming NEAR-dup ingest — the online half of fuzzy dedup: as each
# document micro-batch arrives, its MinHash band keys probe a PERSISTED
# band table of everything ingested so far, candidates are verified by
# exact shingle Jaccard against a persisted shingle store, and verified
# pairs merge into a keyed output table.  After the whole corpus has
# streamed through — in ANY batch partitioning — the pair table equals
# the batch portable-minhash oracle exactly (a pair is emitted when its
# later-arriving member is processed; every state/output write is a
# keyed MERGE, so replaying any batch is a fixed point).
#
# 100 TB posture: the band table is the index — at scale it is bucketed
# by band hash so a batch's probe is a co-located join (no state-side
# shuffle), and the shingle store is a keyed point-lookup table; both
# grow with the corpus, not with batch count.  Here they are plain
# unpartitioned ManifestSnapshotTables (the container has no bucketed
# catalog), and each probe reads the full small state — the dataflow,
# not the layout, is what this query pins.
# ---------------------------------------------------------------------------
def stream_near_dup_run(
    spark: SparkSession,
    docs_dir: str,
    schema,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Core of stream_near_dup_pairs, parameterized on the watched dir
    so tests can split the corpus across files and prove the pair set
    is micro-batch-boundary independent."""
    from ..operators import dedup as D

    wd = _workdir("stream_neardup")
    band_tbl = ManifestSnapshotTable(
        spark, os.path.join(wd, "bands"), keys=["band", "doc"],
        order_cols=["seq"],
    )
    sh_tbl = ManifestSnapshotTable(
        spark, os.path.join(wd, "shingles"), keys=["doc"],
        order_cols=["seq"],
    )
    pair_tbl = ManifestSnapshotTable(
        spark, os.path.join(wd, "pairs"), keys=["id_a", "id_b"],
        order_cols=["seq"],
    )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        sig = D.portable_minhash_signature(F.col("sh"), num_perm)
        new = (
            batch_df.filter(F.col("text").isNotNull())
            .select(
                F.col("doc_id").alias("doc"),
                D.word_shingles(F.col("text"), shingle_k).alias("sh"),
            )
            .filter(F.size("sh") > 0)
            .select(
                "doc",
                "sh",
                F.explode(
                    D.lsh_band_keys(sig, bands, num_perm // bands)
                ).alias("band"),
            )
        )
        new_bands = new.select(
            "band", "doc", F.lit(batch_id).alias("seq")
        )
        new_sh = new.select(
            "doc", "sh", F.lit(batch_id).alias("seq")
        ).dropDuplicates(["doc"])
        # state MERGE FIRST: all_bands/all_shingles then include this
        # batch, so a replayed batch (crash after state write, before
        # checkpoint commit) still finds every pair — a.doc != b.doc
        # keeps self-probes out, and the pair MERGE is idempotent
        band_tbl.upsert(new_bands)
        sh_tbl.upsert(new_sh)
        all_bands = band_tbl.read().select("band", "doc")
        shingles = sh_tbl.read().select("doc", "sh")
        cand = (
            new_bands.select("band", "doc")
            .join(all_bands.withColumnRenamed("doc", "other"), "band")
            .filter(F.col("doc") != F.col("other"))
            .select(
                F.least("doc", "other").alias("id_a"),
                F.greatest("doc", "other").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        verified = (
            cand.join(
                shingles.select(
                    F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")
                ),
                "id_a",
            )
            .join(
                shingles.select(
                    F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")
                ),
                "id_b",
            )
            .withColumn("jaccard", D.jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select(
                "id_a", "id_b", "jaccard", F.lit(batch_id).alias("seq")
            )
        )
        pair_tbl.upsert(verified)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(docs_dir)
    q = (
        sdf.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = pair_tbl.read()
    if out is None:
        return empty_frame(spark, "id_a long, id_b long, jaccard double")
    return out.select("id_a", "id_b", "jaccard")


def _stream_near_dup_sql() -> str:
    from .northstar import _portable_minhash_sql

    return _portable_minhash_sql()


@register(
    "stream_near_dup_pairs",
    _stream_near_dup_sql(),
    doc="streaming near-dup ingest: each micro-batch's MinHash bands "
    "probe the persisted band index of everything ingested so far, "
    "candidates verify by exact shingle Jaccard, pairs MERGE keyed — "
    "cumulative output equals the batch portable-minhash oracle for "
    "any batch partitioning (stream ≡ batch)",
)
def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    return stream_near_dup_run(spark, _documents_path(sf_dir), schema)


# ---------------------------------------------------------------------------
# Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps a
# key's dedup state only while it is within the watermark horizon, so
# state size is O(keys per window), not O(all keys ever) — the fix for
# stream_dedup_replay's unbounded-state caveat (SURVEY §2.8: the
# reference's CDC snapshot grows forever, pro.py:18).  With the delay
# chosen to cover the fixture's time span the result is exact, so the
# batch DISTINCT oracle still applies; in production the delay is the
# real re-delivery horizon and state stays bounded.
# ---------------------------------------------------------------------------
@register(
    "stream_dedup_bounded_state",
    f"""
    SELECT DISTINCT event_id, user_id, event_type,
           strftime(ts, '{_TS_FMT_DUCK}') AS ts_s
    FROM events
    """,
    doc="streaming dedup with watermark-bounded state "
    "(dropDuplicatesWithinWatermark): double-delivered file collapses "
    "to one copy while state stays O(keys within horizon)",
)
def q_stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_file_stream(
        spark, _events_path_duplicated(sf_dir), max_files_per_trigger=1
    )
    deduped = (
        ev.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id", "user_id", "event_type",
            F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        )
    )
    return append_sink_run(spark, deduped)


# ---------------------------------------------------------------------------
# Arbitrary-stateful surface (§2.9) as a registered query: per-user
# (count, sum) accumulators via applyInPandasWithState, fed the
# double-delivered events directory one file per micro-batch — so every
# key's final snapshot provably accumulated ACROSS batches (n = 2×
# single-delivery count).  The oracle is the batch aggregate over the
# doubled input; per-key snapshots are reduced to the final (max n) one
# with a window.  State is partition-local and checkpointed (each
# executor holds its key range), the update is Arrow-vectorized.
# ---------------------------------------------------------------------------
@register(
    "stream_stateful_running_totals",
    """
    WITH doubled AS (
        SELECT user_id, value FROM events
        UNION ALL
        SELECT user_id, value FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS total_4
    FROM doubled GROUP BY user_id
    """,
    doc="custom stateful streaming op (applyInPandasWithState per-key "
    "count/sum accumulators) across two micro-batches of a "
    "double-delivered source — final snapshots equal the batch "
    "aggregate over the doubled input",
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.readers import file_stream
    from ..streaming.stateful import running_totals

    wd = _workdir("stateful_q")
    out_dir = os.path.join(wd, "out")

    ev = events_file_stream(
        spark, _events_path_duplicated(sf_dir), max_files_per_trigger=1
    ).select("user_id", "value")

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        running_totals(ev)
        .writeStream.outputMode("update")
        .foreachBatch(append_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    snaps = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        snaps.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n",
            dround(F.col("total"), 4).alias("total_4"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance: the continuously-maintained
# search index.  Each micro-batch of newly-arrived documents is one
# `ManagedTextIndex.upsert` inside foreachBatch — a pruned MERGE commit
# into the term-hash buckets plus a corpus-stats advance — the ingest
# side of the build-once/query-many text-search story.  A file-stream
# source delivers every document exactly once under availableNow, so
# the appended postings ≡ a one-batch build (pinned
# batch-boundary-independent in tests/test_advanced_ops.py
# TestStreamIndexMaintenance), and the post-stream search must
# reproduce the brute-force scan ranking — which is exactly what the
# oracle runs.  `stream_managed_text_index` below is the multi-commit
# variant (one commit per part file).
# ---------------------------------------------------------------------------
def _stream_index_sql() -> str:
    from .northstar import _TEXT_SEARCH_SQL

    return _TEXT_SEARCH_SQL


@register(
    "stream_index_maintenance",
    _stream_index_sql(),
    doc="streaming inverted-index maintenance: each micro-batch is one "
    "ManagedTextIndex.upsert (foreachBatch) — a pruned MERGE commit "
    "into the term-hash bucket partitions — then an index-served "
    "search at the head; stream-built index ≡ batch-built index ≡ "
    "brute-force scan, oracle-checked",
)
def q_stream_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.managed_text import ManagedTextIndex
    from .northstar import _SEARCH_TERMS

    schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    sdf = spark.readStream.schema(schema).parquet(_documents_path(sf_dir))
    wd = _workdir("stream_tidx")
    idx = ManagedTextIndex(spark, os.path.join(wd, "index"))

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx.upsert(batch_df)

    (
        sdf.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return idx.search(_SEARCH_TERMS, k=10)


# ---------------------------------------------------------------------------
# Streaming change-data-feed relay: the manifest table as a STREAM
# SOURCE (Delta's "stream FROM a table" / CDF streaming).  A file
# stream on the table's commit markers triggers per-commit relays into
# a partitioned feed: the earliest snapshot as a full insert bootstrap,
# every later version as changes(v-1, v) — so downstream incremental
# consumers tail per-commit change rows whose production cost tracks
# the commits, never the table.  The cursor is the feed itself
# (per-version overwrites), making checkpoint replay and crash recovery
# converge on the same feed.  Same staged commits as the batch
# manifest_change_feed query; the oracle recomputes all three commit
# states declaratively and diffs consecutive pairs.
# ---------------------------------------------------------------------------
@register(
    "stream_change_feed_relay",
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
    ), feed AS (
        SELECT 1 AS commit_version, 'insert' AS change_type,
               event_type, event_id
        FROM s1
        UNION ALL
        SELECT 2, 'insert', n.event_type, n.event_id
        FROM s2 n LEFT JOIN s1 o
          ON o.user_id = n.user_id AND o.event_type = n.event_type
        WHERE o.user_id IS NULL
        UNION ALL
        SELECT 2, 'update_postimage', n.event_type, n.event_id
        FROM s2 n JOIN s1 o
          ON o.user_id = n.user_id AND o.event_type = n.event_type
        WHERE n.event_id <> o.event_id OR n.tsn <> o.tsn
        UNION ALL
        SELECT 3, 'delete', o.event_type, o.event_id
        FROM s2 o LEFT JOIN s3 n
          ON o.user_id = n.user_id AND o.event_type = n.event_type
        WHERE n.user_id IS NULL
    )
    SELECT CAST(commit_version AS INTEGER) AS commit_version,
           change_type, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_changes,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM feed GROUP BY commit_version, change_type, event_type
    """,
    doc="streaming CDF relay (changes_relay_run): the manifest table as "
    "a stream source — commit markers trigger per-commit relays of "
    "changes(v-1, v) into a partitioned feed (initial snapshot as "
    "insert bootstrap), cursor = the feed itself so replay converges; "
    "oracle recomputes all commit states and diffs consecutive pairs",
)
def q_stream_change_feed_relay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.pipeline import changes_relay_run
    from .core import load_table
    from ._ephemeral import ephemeral_table, materialize_bounded

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_nanos"
    )
    with ephemeral_table(
        ManifestSnapshotTable,
        spark,
        "cdfrelay",
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
        feed = changes_relay_run(spark, table)
        assert feed is not None
        # relay completeness proof, bounded: every committed version
        # must hold a relayed feed partition (explicit raise — survives
        # `python -O`)
        relayed = {
            int(r.commit_version)
            for r in feed.select("commit_version").distinct().collect()
        }
        if relayed != set(table.versions()):
            raise RuntimeError(
                f"relay missed commits: {sorted(relayed)} vs "
                f"{table.versions()}"
            )
        agg = feed.groupBy(
            F.col("commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        # ≤ versions x change kinds x event types rows — bounded
        return materialize_bounded(spark, agg)


# ---------------------------------------------------------------------------
# The reference's FULL loop, end-to-end (VERDICT r11 item 5): spreadsheet
# drop folder (pro.py:94-108 watchdog) → row-hash CDC with modified-file
# re-ingest (pro.py:18,46-55) → changed-rows log (the Kafka stand-in,
# pro.py:13-24) → Structured Streaming keyed MERGE into the manifest
# fact table with a continuous aggregate (con.py:55-63 + app.py:58's
# per-load re-aggregation replaced by an incremental matview) → static
# dashboard rendered FROM the view (README.md:26-27 Kibana parity).
# Every piece is individually verified elsewhere; this query proves the
# COMPOSITION, end to end, against one batch-SQL oracle.
# ---------------------------------------------------------------------------
_E2E_ART: dict[str, dict] = {}


def _e2e_dashboard_artifact(spark: SparkSession, sf_dir: str) -> dict:
    """Build the whole loop once per fixture dir.

    Drop 1 is the even-event_id half of `events` as an .xlsx upload;
    drop 2 OVERWRITES the same file with the full dataset — the
    modified-file shape Spark's file source cannot see but the
    reference's watcher handles (on_modified) — and the row-hash CDC
    must log ONLY the odd half.  The streaming leg then replays the
    log through the manifest sink; the view refreshes per micro-batch
    commit; the dashboard renders from the VIEW alone (never the base
    table)."""
    if sf_dir in _E2E_ART:
        return _E2E_ART[sf_dir]
    from ..datasets import load_table
    from ..operators.matview import IncrementalAggView
    from ..serving.report import _page, _table, column_chart, write_report
    from ..sources import file_stream
    from ..sources.watcher import SEQ_COL, DropIngestor
    from ..sources.xlsx import write_minimal_xlsx

    wd = _workdir("e2e_dash")
    drop = os.path.join(wd, "drop")
    os.makedirs(drop)

    header = ["event_id", "user_id", "event_type", "value"]
    # The drop file is a small operational spreadsheet (driver-localized
    # by design — pro.py reads workbooks row-wise on one node too), so
    # the collect is BOUNDED the same way q_modified_file_reingest's is:
    # a deterministic 1/17 thinning keeps the xlsx at upload size at any
    # fixture SF instead of materializing the whole events table on the
    # driver.  The oracle applies the identical predicate.
    data = [
        [r["event_id"], r["user_id"], r["event_type"], r["value"]]
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 17 == 0)
        .select(*header)
        .collect()
    ]
    upload = os.path.join(drop, "events_upload.xlsx")

    # -- watcher leg: drop, then modify-in-place ------------------------
    staging = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "staging"),
        keys=["event_id"],
        order_cols=[SEQ_COL],
    )
    ingestor = DropIngestor(
        spark, drop, os.path.join(wd, "state"), staging, cdc_cols=header
    )
    write_minimal_xlsx(
        upload, header, [d for d in data if d[0] % 2 == 0]
    )
    ingestor.process_once()
    write_minimal_xlsx(upload, header, data)  # re-upload, full file
    ingestor.process_once()  # row-hash CDC logs only the odd half

    # -- streaming leg: log → manifest sink + continuous aggregate ------
    log_schema = spark.read.parquet(ingestor.log_path).schema
    sdf = file_stream(spark, ingestor.log_path, log_schema)
    typed = sdf.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").cast("double").alias("value"),
        F.col(SEQ_COL).cast("long").alias(SEQ_COL),
    )
    sink = ManifestSnapshotTable(
        spark,
        os.path.join(wd, "fact"),
        keys=["event_type", "event_id"],
        order_cols=[SEQ_COL],
        partition_by=["event_type"],
    )
    view = IncrementalAggView(
        spark,
        os.path.join(wd, "view"),
        sink,
        group_cols=["event_type"],
        measures=[
            ("n_events", None, "count"),
            ("sum_value", "value_dec", "sum"),
        ],
        prepare=lambda df: df.withColumn(
            "value_dec", F.col("value").cast("decimal(22,4)")
        ),
    )
    upsert_stream_run(
        spark, typed, sink, workdir=os.path.join(wd, "run"), view=view
    )

    # -- serving leg: dashboard rendered from the VIEW ------------------
    rows = sorted(
        (
            (r["event_type"], int(r["n_events"]), float(r["sum_value"]))
            for r in view.read().collect()
        ),
        key=lambda t: t[0],
    )
    body = (
        "<h1>Drop-folder analytics</h1>"
        "<p class='sub'>continuous aggregate over the streamed "
        "drop-folder ingest</p>"
        "<h2>Events by type</h2>"
        + column_chart(
            [t[0] for t in rows], [float(t[1]) for t in rows], "events"
        )
        + _table(
            ["event type", "events", "sum value"],
            rows,
            "table view",
            collapsed=False,
        )
    )
    html_path = os.path.join(wd, "dashboard.html")
    write_report(html_path, _page("Drop-folder analytics", body))
    art = {"view": view, "sink": sink, "rows": rows, "html": html_path}
    _E2E_ART[sf_dir] = art
    return art


@register(
    "e2e_drop_to_dashboard",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % 17 = 0 GROUP BY event_type
    """,
    doc="the reference's full loop as ONE verified composition: xlsx "
    "drop + modified-file re-upload → watcher row-hash CDC (only the "
    "changed half re-logs) → changed-rows log streamed through the "
    "manifest keyed-MERGE sink with a per-commit continuous aggregate "
    "→ dashboard HTML rendered from the view alone; the oracle is the "
    "same rollup computed batch-SQL from the raw events table",
)
def q_e2e_drop_to_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    art = _e2e_dashboard_artifact(spark, sf_dir)
    out = art["view"].read()
    assert out is not None
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Streaming ANN-index maintenance: the vector-index twin of
# stream_index_maintenance.  Each micro-batch of newly-arrived
# embeddings is stamped with its (frozen) coarse-quantizer cell and
# pruned-MERGEd into the manifest-backed IVF index inside foreachBatch
# — commit cost tracks the batch's cells; scatter-triggered OPTIMIZE
# after each commit bounds per-cell small files as drips accumulate.
# A post-stream probe must reproduce the batch-built index's ranking —
# which is exactly what the (retrained-literal) oracle computes.
# ---------------------------------------------------------------------------
_EMB_STAGED: dict[str, str] = {}


def _embeddings_parts_path(sf_dir: str) -> str:
    """The embeddings fixture split into 4 deterministic part files so
    availableNow + maxFilesPerTrigger=1 yields FOUR micro-batches (a
    single-file stage would collapse the stream into one commit and
    prove nothing about incremental maintenance)."""
    if sf_dir not in _EMB_STAGED:
        import tempfile

        import duckdb

        d = tempfile.mkdtemp(prefix="sparkgraft_emb_parts_")
        con = duckdb.connect()
        for i in range(4):
            con.execute(
                f"COPY (SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet') "
                f"WHERE vec_id % 4 = {i}) TO "
                f"'{os.path.join(d, f'part-{i}.parquet')}' (FORMAT PARQUET)"
            )
        con.close()
        _EMB_STAGED[sf_dir] = d
    return _EMB_STAGED[sf_dir]


def _stream_ann_sql(sf_dir: str) -> str:
    from .northstar import _ivf_oracle_sql

    return _ivf_oracle_sql(sf_dir)


_ANN_STREAMED: dict[str, object] = {}


def stream_built_ivf_index(spark: SparkSession, sf_dir: str):
    """Build the managed IVF index FROM A STREAM once per fixture:
    4 micro-batches (maxFilesPerTrigger=1 over the 4-part staging),
    each a pruned manifest commit + scatter check."""
    if sf_dir in _ANN_STREAMED:
        return _ANN_STREAMED[sf_dir]
    from ..operators.ann_index import ManagedIvfIndex
    from .northstar import ivf_centroids_cached

    wd = _workdir("stream_annidx")
    idx = ManagedIvfIndex(
        spark,
        os.path.join(wd, "index"),
        ivf_centroids_cached(spark, sf_dir),
    )
    schema = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_embeddings_parts_path(sf_dir))
    )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx.upsert(batch_df)
        idx.maybe_compact(max_scatter=4)

    (
        sdf.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    _ANN_STREAMED[sf_dir] = idx
    return idx


@register(
    "stream_ann_index_maintenance",
    _stream_ann_sql,
    doc="streaming ANN-index maintenance: per-micro-batch cell-stamped "
    "pruned MERGEs into the manifest-backed IVF index (foreachBatch, "
    "4 micro-batches via maxFilesPerTrigger) with scatter-triggered "
    "OPTIMIZE, then a manifest-pruned probe — stream-built index ≡ "
    "batch-built index ≡ the retrained-literal IVF oracle; the "
    "vector twin of stream_index_maintenance",
)
def q_stream_ann_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .northstar import _IVF_NPROBE, _query_vec

    idx = stream_built_ivf_index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    out = idx.probe(qv, k=10, nprobe=_IVF_NPROBE)
    return out.select(
        "vec_id", dround(F.col("cos_sim"), 6).alias("cos_sim")
    )


# ---------------------------------------------------------------------------
# Streaming MANAGED-text-index maintenance: the manifest twin of
# stream_index_maintenance.  Each micro-batch of newly-arrived
# documents becomes one pruned MERGE commit into the manifest-backed
# inverted index (only the batch terms' buckets rewrite) with the
# version-stamped corpus stats advancing per commit — so the
# continuously-maintained search index gains snapshot isolation and
# time travel over the plain append-dir variant.  The post-stream
# search must reproduce the brute-force scan ranking (the oracle).
# ---------------------------------------------------------------------------
_MTX_STREAMED: dict[str, object] = {}


def _documents_parts_path(sf_dir: str) -> str:
    """documents split into 4 deterministic part files so availableNow
    + maxFilesPerTrigger=1 yields FOUR pruned commits (a single-file
    stage would collapse the stream into one commit and prove nothing
    about incremental maintenance)."""
    if sf_dir not in _DOC_PARTS_STAGED:
        import tempfile

        import duckdb

        d = tempfile.mkdtemp(prefix="sparkgraft_docs_parts_")
        con = duckdb.connect()
        for i in range(4):
            con.execute(
                f"COPY (SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet') "
                f"WHERE doc_id % 4 = {i}) TO "
                f"'{os.path.join(d, f'part-{i}.parquet')}' (FORMAT PARQUET)"
            )
        con.close()
        _DOC_PARTS_STAGED[sf_dir] = d
    return _DOC_PARTS_STAGED[sf_dir]


_DOC_PARTS_STAGED: dict[str, str] = {}


def stream_built_managed_text(spark: SparkSession, sf_dir: str):
    """Build the managed text index FROM A STREAM once per fixture:
    4 micro-batches, each one pruned manifest commit + a stats
    advance."""
    if sf_dir in _MTX_STREAMED:
        return _MTX_STREAMED[sf_dir]
    from ..operators.managed_text import ManagedTextIndex

    wd = _workdir("stream_mtidx")
    idx = ManagedTextIndex(spark, os.path.join(wd, "index"))
    schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_documents_parts_path(sf_dir))
    )

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx.upsert(batch_df)

    (
        sdf.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    _MTX_STREAMED[sf_dir] = idx
    return idx


def _stream_mtx_sql() -> str:
    from .northstar import _TEXT_SEARCH_SQL

    return _TEXT_SEARCH_SQL


@register(
    "stream_managed_text_index",
    _stream_mtx_sql(),
    doc="streaming maintenance of the manifest-MANAGED text index: "
    "each micro-batch is one pruned MERGE commit (only the batch "
    "terms' buckets rewrite; version-stamped corpus stats advance per "
    "commit), then a snapshot-isolated bucket-pruned search — "
    "stream-built ≡ batch-built ≡ brute-force scan, oracle-checked; "
    "the multi-commit sibling of stream_index_maintenance",
)
def q_stream_managed_text_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .northstar import _SEARCH_TERMS

    idx = stream_built_managed_text(spark, sf_dir)
    return idx.search(_SEARCH_TERMS, k=10)
