"""Structured Streaming pipelines (SURVEY.md §2.8 T1-T6 + the windowed
semantics the reference lacks).

The reference's streaming runtime is hand-rolled: watchdog thread → Kafka
→ consumer poll loop with manual offset commits every 100 messages
(con.py:71-88) and a ThreadPool of row-at-a-time index calls.  Here every
pipeline is ONE declarative streaming query: micro-batching (T1) is the
engine's trigger, delivery (T2) is checkpoint + idempotent sink, state
(T3) lives in the state store / snapshot tables, parallelism (T4) is
partition-level, replay (T5) is `startingOffsets`/file-source catch-up.

All runners use `trigger(availableNow=True)`: process everything
currently in the source, then stop — which makes streams testable against
batch oracles (driver fixtures have no live Kafka/broker).  The same
pipelines run unbounded by swapping the trigger.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import row_hash
from ..localframe import empty_frame
from ..operators.upsert import ManifestSnapshotTable


# ---------------------------------------------------------------------------
# Windowed aggregations (absent in reference — engine additions per §2.8)
# ---------------------------------------------------------------------------
def tumbling_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    group_extra: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Watermarked tumbling-window aggregation.  Windows are epoch-aligned
    (Spark's default origin) so a batch engine bucketing with
    `time_bucket`/`date_trunc` produces identical window starts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), *group_extra)
        .agg(*aggs)
    )


def sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in window/slide
    overlapping windows — state is per-window, input is not duplicated."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(*aggs)
    )


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key: str = "user_id",
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Session windows: a session extends while the next event arrives
    strictly within `gap` of the previous one (an event at exactly
    prev+gap starts a new session — mirrored by the `>= gap` island test
    in the batch oracle)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), key)
        .agg(*aggs)
    )


# ---------------------------------------------------------------------------
# CDC over a stream (P6/J3/T3)
# ---------------------------------------------------------------------------
def cdc_stream(
    stream: DataFrame, snapshot: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Emit only rows whose canonical row-hash is absent from the
    snapshot (reference pro.py:46-55).  Stream-static left-anti join:
    fully incremental — each micro-batch hashes only its own rows; the
    snapshot side is broadcast when small, shuffled-by-hash when not
    (uniform md5 keys, skew-free)."""
    cols = list(cols)
    hashed = stream.withColumn("__rh", row_hash(cols))
    snap = snapshot.select(row_hash(cols).alias("__rh")).distinct()
    return hashed.join(snap, "__rh", "left_anti").drop("__rh")


# ---------------------------------------------------------------------------
# Runners (availableNow lifecycle + sinks)
# ---------------------------------------------------------------------------
def _workdir(prefix: str) -> str:
    """Session-scoped scratch dir: removed at interpreter exit so
    repeated invocations of registered streaming queries don't leak
    checkpoint/sink dirs into /tmp (results are read back before exit,
    so exit-time removal is safe)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=f"sparkgraft_{prefix}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def refresh_sink_run(
    spark: SparkSession,
    sdf: DataFrame,
    output_mode: str = "complete",
    workdir: str | None = None,
) -> DataFrame:
    """Run a streaming query to completion (availableNow), refreshing a
    parquet result per micro-batch (overwrite = the dashboard-refresh
    sink; idempotent under batch replay by construction).  Returns the
    final refreshed result as a batch DataFrame."""
    wd = workdir or _workdir("refresh")
    data, ckpt = os.path.join(wd, "data"), os.path.join(wd, "ckpt")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(data)

    q = (
        sdf.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(data)


def append_sink_run(
    spark: SparkSession,
    sdf: DataFrame,
    workdir: str | None = None,
) -> DataFrame:
    """Run an append-mode stream to completion into a parquet dir and
    return the accumulated rows."""
    wd = workdir or _workdir("append")
    data, ckpt = os.path.join(wd, "data"), os.path.join(wd, "ckpt")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(data)


def upsert_stream_run(
    spark: SparkSession,
    sdf: DataFrame,
    table: ManifestSnapshotTable,
    workdir: str | None = None,
    quarantine_predicate: Column | None = None,
    max_scatter: int | None = None,
    view: "IncrementalAggView | None" = None,
    tombstone_predicate: Column | None = None,
    tombstone_mode: str = "rewrite",
    schema_evolution: bool = False,
) -> DataFrame:
    """Stream → keyed MERGE sink (S5/T2; reference con.py:55-63).  Each
    micro-batch upserts into the keyed table inside foreachBatch;
    checkpoint + last-write-wins merge gives effectively-once output
    under replay (merging the same batch twice is a fixed point).

    `quarantine_predicate`: rows NOT satisfying it (e.g. null business
    keys) are diverted to a quarantine parquet dir instead of being
    silently dropped — the reference logs-and-drops them (con.py:65-66);
    a quarantine sink keeps them replayable.  Returns the keyed table
    (empty-schema DataFrame when the source produced no batches).

    `max_scatter`: auto-OPTIMIZE — after each micro-batch commit,
    compact the table whenever its live manifest references more than
    this many holder versions.  Without
    it, a long-running incremental sink accretes one holder version per
    distinct touched-partition set, growing read fan-out without bound;
    with it, scans per read stay ≤ max_scatter + 1 forever.  Compaction
    is observationally the identity, so replay stays a fixed point.

    `view`: a continuous aggregate refreshed after every micro-batch
    commit, so the rollup is always one commit behind at most.  Duck-typed over `.base`/`.refresh()`:
    an `operators.matview.IncrementalAggView` (refresh = recompute
    partials of touched partitions) or a `DeltaAggView` (refresh =
    fold the commit's signed change feed) both slot in — pick by
    measure retractability and commit shape, see docs/STORAGE.md.  This is the streaming replacement for the
    reference's per-dashboard-load full re-aggregation (app.py:58).
    Refresh is a pure function of the base manifest, so batch replay
    stays a fixed point (the extra refresh is a no-op).  Per-batch
    outcomes land in `view.refresh_log`.

    `tombstone_predicate`: CDC delete markers — the Debezium
    ``op='d'`` shape.  Within each
    micro-batch the latest record per key (by the table's order
    columns) decides: tombstone → the key is DELETED from the table
    (partition-pruned, see `ManifestSnapshotTable.delete`), otherwise
    upserted.  Batches apply in arrival order, so a later batch's
    record resurrects a previously-deleted key regardless of event
    time — standard CDC apply-in-commit-order semantics (a hard delete
    keeps no tombstone timestamp to compare against).  Replaying a
    batch re-applies the same split, so delivery stays effectively
    once.

    `tombstone_mode`: how tombstoned keys are erased — ``"rewrite"``
    (default) is the copy-on-write `delete` (partitions rewritten);
    ``"dv"`` applies them as deletion-vector commits (`delete_dv` —
    positional sidecars only, O(deleted rows) per batch, the right
    shape when tombstones are sparse relative to partition size).
    Replay stays a fixed point either way (re-deleting applied keys is
    a dv no-op), and `max_scatter` auto-compaction doubles as the
    vector-materialization schedule.

    `schema_evolution`: passed through to each micro-batch's
    `upsert` — when the stream's schema
    gains columns (or widens types losslessly) mid-flight, the sink
    extends the table's declared schema instead of refusing the batch
    (the Delta mergeSchema streaming-sink option).  Off by default:
    an unexpected schema change in a pipeline should fail loudly
    unless evolution was opted into."""
    wd = workdir or _workdir("upsert")
    ckpt = os.path.join(wd, "ckpt")
    quarantine_dir = os.path.join(wd, "quarantine")
    if view is not None and view.base is not table:
        raise ValueError(
            "view must be an IncrementalAggView over the sink table"
        )
    if tombstone_mode not in ("rewrite", "dv"):
        raise ValueError(
            f"tombstone_mode must be 'rewrite' or 'dv', "
            f"got {tombstone_mode!r}"
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        good = batch_df
        if quarantine_predicate is not None:
            bad = batch_df.filter(~F.coalesce(quarantine_predicate, F.lit(False)))
            bad.write.mode("append").parquet(quarantine_dir)
            good = batch_df.filter(
                F.coalesce(quarantine_predicate, F.lit(False))
            )
        if tombstone_predicate is not None:
            from ..operators.windows import latest_by_key

            latest = latest_by_key(
                good,
                table.keys,
                [F.col(c).desc() for c in table.order_cols],
            )
            dead = F.coalesce(tombstone_predicate, F.lit(False))
            table.upsert(
                latest.filter(~dead), schema_evolution=schema_evolution
            )
            erase = (
                table.delete_dv
                if tombstone_mode == "dv"
                else table.delete
            )
            erase(latest.filter(dead).select(*table.keys))
        else:
            table.upsert(good, schema_evolution=schema_evolution)
        # refresh BEFORE any compaction: a compaction moves EVERY
        # fragment's holder version, so a refresh that followed it
        # would recompute every partial — O(table) instead of the
        # promised O(partitions touched by the batch).  Refreshing
        # first keeps the per-batch cost claim true; the compacted
        # manifest (content-identical) then makes the NEXT refresh the
        # full recompute, which is the deliberate, amortized OPTIMIZE
        # cost rather than a per-batch one.
        if view is not None:
            view.refresh()
        if max_scatter is not None:
            table.maybe_compact(max_scatter)

    q = (
        sdf.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = table.read()
    if out is None:
        return empty_frame(spark, sdf.schema)
    return out


def read_quarantine(
    spark: SparkSession, workdir: str
) -> DataFrame | None:
    path = os.path.join(workdir, "quarantine")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def changes_relay_run(
    spark: SparkSession,
    table: ManifestSnapshotTable,
    workdir: str | None = None,
    emit_update_preimages: bool = False,
) -> DataFrame | None:
    """Stream a ManifestSnapshotTable's change data feed to a parquet
    feed dir — Delta's "stream FROM a table" / CDF-as-a-source shape:
    downstream incremental consumers read per-commit change rows
    (``_change_type`` + ``commit_version``) instead of re-diffing
    snapshots, and the feed is maintained BY a stream, commit by
    commit, not by ad-hoc batch calls.

    Mechanics (each piece carries the exactly-once story):

    - **Trigger**: a file stream on the table's manifests
      (``v=*/manifest.json`` — the commit marker itself is empty, and
      the file source surfaces no batch for 0-row files) — one new
      file per commit, so the stream wakes exactly when the table
      changes.  Batch CONTENT is ignored: the trigger is a scheduler,
      not a data channel, which makes the relay immune to the
      manifest-vs-marker write-order race (a manifest seen before its
      ``_SUCCESS`` lands simply isn't in ``versions()`` yet and is
      picked up by the next trigger) and to replayed/missed triggers
      alike.
    - **Cursor**: the feed itself.  Each relayed version lands under
      ``feed/commit_version=<v>`` with its own ``_SUCCESS``; the
      relay resumes from the highest marked version, so checkpoint
      replay, crashes mid-batch, and gap triggers all converge to the
      same feed (per-version writes are whole-dir overwrites —
      idempotent).
    - **Bootstrap**: the earliest readable snapshot is relayed as a
      full ``insert`` feed (Delta's initial-snapshot semantics for
      table-source streams); every later version as
      ``changes(v-1, v)`` — cost tracks the commit, never the table.

    Retention contract: relaying version v needs v-1 readable, so
    ``keep_versions`` must cover the relay's maximum lag (the same
    retention bound Delta places on CDF consumers); a vacuumed gap
    raises instead of silently skipping commits.  The table must have
    ≥1 commit before the stream starts (the marker glob must match).
    ``emit_update_preimages`` materializes Delta's full CDF shape —
    updates carry both images — which is what retraction-based
    consumers (`DeltaAggView.apply_feed`) fold: produce the feed ONCE
    here, and every downstream view applies its span in O(feed rows)
    without re-diffing the base.  Returns the accumulated feed (None
    when the table was empty)."""
    wd = workdir or _workdir("cdfrelay")
    feed, ckpt = os.path.join(wd, "feed"), os.path.join(wd, "ckpt")
    os.makedirs(feed, exist_ok=True)

    def _relayed_high_water() -> int:
        done = 0
        for name in os.listdir(feed):
            if name.startswith("commit_version=") and os.path.exists(
                os.path.join(feed, name, "_SUCCESS")
            ):
                done = max(done, int(name.split("=", 1)[1]))
        return done

    def relay(_batch_df: DataFrame, _batch_id: int) -> None:
        vs = table.versions()
        if not vs:
            return
        done = _relayed_high_water()
        pending = [v for v in vs if v > done]
        # a relay that has ALREADY bootstrapped may only continue via
        # per-commit diffs, and diffing pending[0] needs version `done`
        # itself still readable — `pending[0] == done + 1` alone is not
        # enough (vacuum can demote `done` while done+1 survives, and a
        # silent re-bootstrap would duplicate every live row in the
        # feed, double-counting in every downstream fold)
        if done and pending and (
            pending[0] != done + 1 or done not in vs
        ):
            raise RuntimeError(
                f"change-feed retention gap: last relayed version "
                f"{done} must still be readable to diff against "
                f"(readable: {vs}) — raise keep_versions to cover the "
                "relay's lag"
            )
        for v in pending:
            if done == 0 and v == vs[0]:
                # initial snapshot: every live row as an insert
                base = table.read(v)
                if base is None:
                    out_dir = os.path.join(feed, f"commit_version={v}")
                    os.makedirs(out_dir, exist_ok=True)
                    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
                        pass
                    continue
                df = base.withColumn(
                    "_change_type", F.lit("insert")
                ).select("_change_type", *base.columns)
            else:
                df = table.changes(
                    v - 1, v,
                    emit_update_preimages=emit_update_preimages,
                )
            out_dir = os.path.join(feed, f"commit_version={v}")
            df.write.mode("overwrite").parquet(out_dir)

    trigger = spark.readStream.format("text").load(
        os.path.join(table.path, "v=*", "manifest.json")
    )
    q = (
        trigger.writeStream.foreachBatch(relay)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_change_feed(spark, wd)


def read_change_feed(
    spark: SparkSession, workdir: str
) -> DataFrame | None:
    """The accumulated relay feed: all per-commit change rows with
    their ``commit_version`` partition column (hive-inferred).
    ``mergeSchema``: commits relayed after a base `add_column` /
    evolving upsert carry the new column while older feed files lack
    it — the union schema surfaces it everywhere (NULL for
    pre-evolution rows), so a consumer spanning the evolution never
    loses the column to parquet's sample-one-footer default."""
    feed = os.path.join(workdir, "feed")
    if not os.path.isdir(feed):
        return None
    has_files = any(
        name.endswith(".parquet")
        for _d, _s, names in os.walk(feed)
        for name in names
    )
    if not has_files:
        return None
    return (
        spark.read.option("basePath", feed)
        .option("mergeSchema", "true")
        .parquet(feed)
    )


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "30 minutes",
    max_lag: str = "15 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    right rows within (left_ts - max_lag, left_ts].  Both sides carry
    watermarks, so the join state store evicts rows once they can no
    longer match — bounded state, the thing the naive cache-both-streams
    approach lacks.  Semantically equal to the batch range join of the
    same inputs (oracle-checked in the registered query)."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            > F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_lag}")
        )
    )
    return l.join(r, cond, "inner")
