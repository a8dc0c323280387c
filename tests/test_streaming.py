"""Streaming semantics tests (SURVEY.md §2.8 T1-T6 + §5.3): multi-batch
incremental processing, replay idempotency of the keyed upsert sink, and
watermark-driven late-data dropping across checkpointed restarts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
    merge_by_key,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources import (
    file_stream,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.readers import (
    parse_kafka_json,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.pipeline import (
    upsert_stream_run,
)

SCHEMA = "k string, seq bigint, v double"


def _write_chunk(spark, rows, dir_path):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("append").parquet(dir_path)


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


# ---------------------------------------------------------------------------
# T1/T3 — multi-batch upsert: 3 files, one micro-batch each; final table
# is the same latest-by-key regardless of the batch split.
# ---------------------------------------------------------------------------
def test_multibatch_upsert_latest_by_key(spark, workdir):
    src = os.path.join(workdir, "src")
    _write_chunk(spark, [("a", 1, 1.0), ("b", 1, 10.0)], src)
    _write_chunk(spark, [("a", 2, 2.0), ("c", 1, 100.0)], src)
    _write_chunk(spark, [("b", 3, 30.0), ("a", 3, 3.0)], src)

    table = ManifestSnapshotTable(
        spark, os.path.join(workdir, "tbl"), keys=["k"], order_cols=["seq"]
    )
    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    out = upsert_stream_run(
        spark, stream, table, workdir=os.path.join(workdir, "run")
    )
    got = {(r.k, r.seq, r.v) for r in out.collect()}
    assert got == {("a", 3, 3.0), ("b", 3, 30.0), ("c", 1, 100.0)}


# ---------------------------------------------------------------------------
# T2 — replay idempotency: running the identical stream again (fresh
# checkpoint = full replay) leaves the keyed table unchanged.
# ---------------------------------------------------------------------------
def test_upsert_replay_is_idempotent(spark, workdir):
    src = os.path.join(workdir, "src")
    _write_chunk(spark, [("a", 1, 1.0), ("a", 2, 2.0), ("b", 5, 50.0)], src)

    table = ManifestSnapshotTable(
        spark, os.path.join(workdir, "tbl"), keys=["k"], order_cols=["seq"]
    )
    first = upsert_stream_run(
        spark,
        file_stream(spark, src, SCHEMA),
        table,
        workdir=os.path.join(workdir, "run1"),
    ).collect()
    second = upsert_stream_run(
        spark,
        file_stream(spark, src, SCHEMA),
        table,
        workdir=os.path.join(workdir, "run2"),
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert {(r.k, r.seq) for r in second} == {("a", 2), ("b", 5)}


# ---------------------------------------------------------------------------
# merge_by_key unit semantics: source beats target on exact order ties.
# ---------------------------------------------------------------------------
def test_merge_source_wins_ties(spark):
    tgt = spark.createDataFrame([("a", 1, "old")], "k string, seq bigint, tag string")
    src = spark.createDataFrame([("a", 1, "new")], "k string, seq bigint, tag string")
    out = merge_by_key(tgt, src, ["k"], [F.col("seq").desc()]).collect()
    assert [(r.k, r.tag) for r in out] == [("a", "new")]


# ---------------------------------------------------------------------------
# Watermark — late rows older than the watermark are dropped across a
# checkpointed restart (append mode: only finalized windows are emitted).
# ---------------------------------------------------------------------------
def test_watermark_drops_late_rows(spark, workdir):
    src = os.path.join(workdir, "src")
    sink = os.path.join(workdir, "sink")
    ckpt = os.path.join(workdir, "ckpt")
    ev_schema = "ts timestamp, v long"

    def run_once():
        stream = file_stream(spark, src, ev_schema)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import datetime as dt

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    # Phase 1: events in the 09h and 11h windows; max ts 12:05 ⇒ watermark
    # after the batch = 11:55.
    _write_chunk_ts(spark, [(t(9, 10), 1), (t(9, 40), 2), (t(11, 20), 3), (t(12, 5), 4)], src, ev_schema)
    run_once()

    # Phase 2 (restart from checkpoint): a LATE event in the 09h window
    # (behind the 11:55 watermark ⇒ dropped) plus a fresh 13:10 event that
    # advances the watermark past 12:00, flushing the 11h and 12h windows.
    _write_chunk_ts(spark, [(t(9, 50), 99), (t(13, 10), 5)], src, ev_schema)
    run_once()

    got = {
        (r.ws.hour, r.n)
        for r in spark.read.parquet(sink).collect()
    }
    # 09h window emitted with count 2 — the late 09:50 event was dropped.
    assert (9, 2) in got
    assert (9, 3) not in got
    # 11h and 12h windows finalized once the watermark passed them.
    assert (11, 1) in got and (12, 1) in got


def _write_chunk_ts(spark, rows, dir_path, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(dir_path)


# ---------------------------------------------------------------------------
# S4 — Kafka-shaped JSON parsing (batch twin of the stream source;
# ragged/absent keys become NULLs like the reference's sparse messages).
# ---------------------------------------------------------------------------
def test_parse_kafka_json_ragged_messages(spark):
    raw = spark.createDataFrame(
        [
            (b'{"a": 1, "b": "x"}',),
            (b'{"a": 2}',),  # pro.py:76 drops empty fields → absent key
            (b"not json",),
        ],
        "value binary",
    ).withColumn("timestamp", F.current_timestamp())
    out = parse_kafka_json(raw, "a bigint, b string").collect()
    assert [(r.a, r.b) for r in out] == [(1, "x"), (2, None), (None, None)]


# ---------------------------------------------------------------------------
# §2.9 — arbitrary stateful operator (applyInPandasWithState): per-key
# accumulators survive across micro-batches and match the batch answer.
# ---------------------------------------------------------------------------
def test_stateful_running_totals_across_batches(spark, workdir):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.stateful import (
        running_totals,
    )

    src = os.path.join(workdir, "src")
    schema = "user_id bigint, value double"
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 10.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(1, 4.0), (2, 20.0), (3, 5.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    out_dir = os.path.join(workdir, "out")

    def append_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        running_totals(stream)
        .writeStream.outputMode("update")
        .foreachBatch(append_batch)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.read.parquet(out_dir).collect()
    # Two micro-batches ⇒ per-key snapshots after each; the final (max n)
    # snapshot per key must equal the batch aggregate.
    final = {}
    for r in rows:
        if r.user_id not in final or r.n > final[r.user_id][0]:
            final[r.user_id] = (r.n, r.total)
    assert final == {1: (3, 7.0), 2: (2, 30.0), 3: (1, 5.0)}
    # State carried across batches: user 1 must have an intermediate
    # snapshot (n=2) from batch 1 and the cumulative one (n=3) after
    # batch 2 — not a fresh count.
    assert {r.n for r in rows if r.user_id == 1} == {2, 3}


# ---------------------------------------------------------------------------
# F11 — synthetic monotonic event time: unique, strictly increasing
# within every partition.
# ---------------------------------------------------------------------------
def test_synthetic_event_time_monotonic(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.functions.scalar import (
        synthetic_event_time,
    )

    df = (
        spark.range(0, 1000, 1, 4)
        .withColumn("ts", synthetic_event_time(F.lit("2024-01-01 00:00:00").cast("timestamp")))
        .withColumn("pid", F.spark_partition_id())
    )
    rows = df.collect()
    assert len({r.ts for r in rows}) == 1000  # unique
    by_pid = {}
    for r in sorted(rows, key=lambda r: r.id):
        by_pid.setdefault(r.pid, []).append(r.ts)
    for ts_list in by_pid.values():
        assert all(a < b for a, b in zip(ts_list, ts_list[1:]))


# ---------------------------------------------------------------------------
# Quarantine path: rows failing the key predicate are diverted to a
# replayable quarantine sink instead of silently dropped (the
# reference's con.py:65-66 log-and-drop, made durable).
# ---------------------------------------------------------------------------
def test_upsert_quarantines_null_keys(spark, workdir):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.pipeline import (
        read_quarantine,
    )

    src = os.path.join(workdir, "src")
    _write_chunk(spark, [("a", 1, 1.0), (None, 2, 2.0), ("b", 3, 3.0)], src)
    table = ManifestSnapshotTable(
        spark, os.path.join(workdir, "tbl"), keys=["k"], order_cols=["seq"]
    )
    run_dir = os.path.join(workdir, "run")
    out = upsert_stream_run(
        spark,
        file_stream(spark, src, SCHEMA),
        table,
        workdir=run_dir,
        quarantine_predicate=F.col("k").isNotNull(),
    )
    assert {r.k for r in out.collect()} == {"a", "b"}
    quarantined = read_quarantine(spark, run_dir).collect()
    assert [(r.k, r.seq) for r in quarantined] == [(None, 2)]


# ---------------------------------------------------------------------------
# Empty source: zero micro-batches must yield an empty result, not a
# crash (table never created).
# ---------------------------------------------------------------------------
def test_upsert_empty_source(spark, workdir):
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    table = ManifestSnapshotTable(
        spark, os.path.join(workdir, "tbl"), keys=["k"], order_cols=["seq"]
    )
    out = upsert_stream_run(
        spark,
        file_stream(spark, src, SCHEMA),
        table,
        workdir=os.path.join(workdir, "run"),
    )
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Multimodal plumbing shapes: 1→1 resize and 1→N frame sampling via
# mapInPandas (batch-streamed Arrow, data-dependent output cardinality).
# ---------------------------------------------------------------------------
def test_multimodal_resize_and_frame_sample(spark):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators import (
        multimodal as M,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 700)], "doc_id bigint, text string"
    )
    media = M.attach_binary_payload(docs, "text", "doc_id")

    resized = {r.doc_id: r for r in M.resize_stub(media, 8, 8).collect()}
    assert all(r.n_bytes == 64 for r in resized.values())
    assert resized[1].payload[:100] == b"x" * 64

    frames = M.frame_sample_stub(media, every_n_bytes=256).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc[1]) == 1          # 100 bytes → 1 frame
    assert len(per_doc[2]) == 3          # 700 bytes → 3 frames
    assert per_doc[2][2].n_bytes == 700 - 512


# ---------------------------------------------------------------------------
# Schema evolution: a later batch carrying a NEW column widens the keyed
# table additively (reference's ragged Excel rows, pro.py:38) when the
# writer opts in; earlier rows read NULL for it.
# ---------------------------------------------------------------------------
def test_upsert_schema_evolution(spark, workdir):
    table = ManifestSnapshotTable(
        spark, os.path.join(workdir, "tbl"), keys=["k"], order_cols=["seq"]
    )
    table.upsert(
        spark.createDataFrame([("a", 1, 1.0)], "k string, seq bigint, v double")
    )
    wide = spark.createDataFrame(
        [("b", 2, 2.0, "extra")],
        "k string, seq bigint, v double, note string",
    )
    with pytest.raises(ValueError, match="schema_evolution=True"):
        table.upsert(wide)  # widening is opt-in
    table.upsert(wide, schema_evolution=True)
    rows = {r.k: r for r in table.read().collect()}
    assert rows["a"].note is None
    assert rows["b"].note == "extra"
    # the reverse direction: a narrower later batch is refused (an
    # upsert cannot leave a column unspecified) and the table is
    # unchanged; the batch merges once it states the column
    narrow = spark.createDataFrame(
        [("a", 9, 9.0)], "k string, seq bigint, v double"
    )
    with pytest.raises(ValueError, match="lacks table columns"):
        table.upsert(narrow)
    assert table.read().count() == 2
    table.upsert(narrow.withColumn("note", F.lit(None).cast("string")))
    rows = {r.k: r for r in table.read().collect()}
    assert rows["a"].seq == 9 and rows["a"].note is None
    assert rows["b"].note == "extra"


def test_snapshot_table_time_travel_and_rollback(spark, workdir):
    t = ManifestSnapshotTable(
        spark, os.path.join(workdir, "snap"), keys=["k"], order_cols="seq"
    )
    v1 = t.upsert(spark.createDataFrame([("a", 1, 10.0)], "k string, seq int, v double"))
    v2 = t.upsert(spark.createDataFrame([("a", 2, 20.0)], "k string, seq int, v double"))
    assert (v1, v2) == (1, 2)
    assert t.read(v1).head().v == 10.0          # old snapshot still serves
    assert t.read().head().v == 20.0            # latest sees the upsert
    assert t.versions() == [1, 2]

    t.rollback(v1)
    assert t.versions() == [1]
    assert t.read().head().v == 10.0

    # replaying the same batch after rollback is a fresh commit with the
    # same content — last-write-wins fixed point
    v3 = t.upsert(spark.createDataFrame([("a", 1, 10.0)], "k string, seq int, v double"))
    assert v3 == 2
    assert t.read(v3).collect() == t.read(v1).collect()


def test_snapshot_table_vacuum_retains_window(spark, workdir):
    t = ManifestSnapshotTable(
        spark,
        os.path.join(workdir, "snapvac"),
        keys=["k"],
        order_cols="seq",
        keep_versions=2,
    )
    for seq in range(1, 5):
        t.upsert(
            spark.createDataFrame([("a", seq, float(seq))], "k string, seq int, v double")
        )
    assert t.versions() == [3, 4]
    assert t.read().head().v == 4.0
    # the one-fragment table rewrites its fragment on every commit, so
    # no older dir survives as a data holder
    assert sorted(os.listdir(t.path)) == ["v=00003", "v=00004"]


def test_stream_manifest_auto_compact_bounds_scatter(spark, workdir):
    """A long-running manifest sink accretes one holder version per
    micro-batch's touched-partition set; max_scatter auto-compaction
    must bound that scatter while leaving the keyed content identical
    to an unconstrained twin run."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.pipeline import (
        upsert_stream_run,
    )

    src = os.path.join(workdir, "src")
    _write_chunk(spark, [("a", 1, 1.0)], src)
    _write_chunk(spark, [("b", 1, 10.0)], src)
    _write_chunk(spark, [("c", 1, 100.0)], src)
    _write_chunk(spark, [("a", 2, 2.0)], src)

    def run(name, **kw):
        table = ManifestSnapshotTable(
            spark,
            os.path.join(workdir, name, "tbl"),
            keys=["k"],
            order_cols=["seq"],
            partition_by=["k"],
        )
        upsert_stream_run(
            spark,
            file_stream(spark, src, SCHEMA, max_files_per_trigger=1),
            table,
            workdir=os.path.join(workdir, name, "run"),
            **kw,
        )
        return table

    plain = run("plain")
    auto = run("auto", max_scatter=2)
    want = {("a", 2, 2.0), ("b", 1, 10.0), ("c", 1, 100.0)}
    for t in (plain, auto):
        assert {(r.k, r.seq, r.v) for r in t.read().collect()} == want
    # unconstrained: every partition still held by a different version;
    # auto-compacted: batch 3 tripped the threshold, bounding fan-out
    assert len(set(plain.manifest().values())) == 3
    assert len(set(auto.manifest().values())) <= 2


def test_stream_restart_processes_only_new_files(spark, workdir):
    """T2/T5 — checkpoint recovery: a restarted availableNow stream must
    pick up exactly the files that arrived while it was down, appending
    each source row to the sink once across both runs."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.streaming.pipeline import (
        append_sink_run,
    )

    src = os.path.join(workdir, "src")
    sink = os.path.join(workdir, "sink")
    _write_chunk(spark, [("a", 1, 1.0), ("b", 1, 2.0)], src)
    out1 = append_sink_run(spark, file_stream(spark, src, SCHEMA), workdir=sink)
    assert out1.count() == 2

    _write_chunk(spark, [("c", 2, 3.0)], src)
    out2 = append_sink_run(spark, file_stream(spark, src, SCHEMA), workdir=sink)
    rows = sorted((r.k, r.seq) for r in out2.collect())
    assert rows == [("a", 1), ("b", 1), ("c", 2)], rows


def test_json_quarantine_splits_malformed_lines(spark, workdir):
    """S1 hardening: malformed JSON lines must surface in the quarantine
    frame with their raw text, never silently drop or fail the scan."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.readers import (
        read_json_quarantined,
    )

    src = os.path.join(workdir, "in.json")
    with open(src, "w") as f:
        f.write('{"k": "a", "seq": 1, "v": 1.5}\n')
        f.write('{"k": "b", "seq": broken!!\n')
        f.write('{"k": "c", "seq": 3, "v": 3.5}\n')
    good, quarantine = read_json_quarantined(spark, src, SCHEMA)
    assert sorted((r.k, r.seq, r.v) for r in good.collect()) == [
        ("a", 1, 1.5),
        ("c", 3, 3.5),
    ]
    bad = quarantine.collect()
    assert len(bad) == 1 and "broken" in bad[0].raw


def test_stream_curation_batch_boundary_independent(spark, tmp_path):
    # Split the corpus across two files and feed them one per
    # micro-batch: the keyed-MERGE dedup (min doc_id wins) must elect
    # the same survivors as the single-batch run — batch boundaries are
    # invisible in the result.
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
        load_table,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.streaming_q import (
        run_stream_curation,
    )
    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    split_dir = str(tmp_path / "docs2")
    docs.repartition(2).write.parquet(split_dir)
    schema = docs.schema

    two_batches = run_stream_curation(
        spark, split_dir, schema, max_files_per_trigger=1
    )
    one_batch = run_stream_curation(spark, split_dir, schema)
    got = sorted(tuple(r) for r in two_batches.collect())
    want = sorted(tuple(r) for r in one_batch.collect())
    assert got == want and len(got) > 0


def test_stream_near_dup_batch_boundary_independent(spark, tmp_path):
    """Split the corpus across three files fed one per micro-batch: the
    cumulative verified-pair table must equal the single-batch run —
    a pair is found when its later-arriving member probes the persisted
    band index, so batch boundaries are invisible in the result."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
        load_table,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.streaming_q import (
        stream_near_dup_run,
    )
    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    split_dir = str(tmp_path / "docs3")
    docs.repartition(3).write.parquet(split_dir)
    schema = docs.schema

    streamed = stream_near_dup_run(
        spark, split_dir, schema, max_files_per_trigger=1
    )
    single = stream_near_dup_run(spark, split_dir, schema)
    got = sorted(tuple(r) for r in streamed.collect())
    want = sorted(tuple(r) for r in single.collect())
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# CDC apply with delete tombstones (Debezium op='d'): within a batch the
# latest record per key decides upsert vs keyed DELETE; batches apply in
# arrival order (a later batch's record resurrects a deleted key).
# ---------------------------------------------------------------------------
TOMB_SCHEMA = "day string, k int, v string, seq int, op string"


def _stage_tomb(spark, rows, src, name, mtime):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.queries.streaming_q import (
        _stage_single_file,
    )

    os.makedirs(src, exist_ok=True)
    _stage_single_file(spark.createDataFrame(rows, TOMB_SCHEMA), src, name, mtime)


def test_stream_tombstones_delete_and_resurrect(spark, workdir):
    src = os.path.join(workdir, "src")
    # batch 1: insert a/b/c; b's LATEST record in-batch is a tombstone
    _stage_tomb(spark, [
        ("d1", 1, "a", 1, "u"),
        ("d1", 2, "b", 1, "u"), ("d1", 2, None, 2, "d"),
        ("d2", 3, "c", 1, "u"),
    ], src, "b1.parquet", 1_000_000_000)
    # batch 2: tombstone a; resurrect b with an OLDER seq (arrival order
    # wins across batches — the hard delete kept no tombstone to compare)
    _stage_tomb(spark, [
        ("d1", 1, None, 9, "d"),
        ("d1", 2, "b2", 1, "u"),
    ], src, "b2.parquet", 1_000_000_100)

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )

    table = ManifestSnapshotTable(
        spark,
        os.path.join(workdir, "tbl"),
        keys=["day", "k"],
        order_cols=["seq"],
        partition_by=["day"],
    )
    out = upsert_stream_run(
        spark,
        file_stream(spark, src, TOMB_SCHEMA, max_files_per_trigger=1),
        table,
        workdir=os.path.join(workdir, "run"),
        tombstone_predicate=F.col("op") == "d",
    )
    got = {(r.day, r.k, r.v) for r in out.collect()}
    assert got == {("d1", 2, "b2"), ("d2", 3, "c")}
    # d2 was never touched by a tombstone batch: still held by v1
    assert table.manifest()["day=d2"] == 1


def test_stream_tombstones_dv_mode(spark, workdir):
    """tombstone_mode='dv': tombstoned keys erase as deletion-vector
    commits — positional sidecars, no data rewrite — with the same
    observable CDC semantics as the rewrite mode, and the vector
    visible in the manifest until something materializes it."""
    src = os.path.join(workdir, "src")
    _stage_tomb(spark, [
        ("d1", 1, "a", 1, "u"),
        ("d1", 2, "b", 1, "u"), ("d1", 2, None, 2, "d"),
        ("d2", 3, "c", 1, "u"),
    ], src, "b1.parquet", 1_000_000_000)
    _stage_tomb(spark, [
        ("d1", 1, None, 9, "d"),
        ("d1", 2, "b2", 1, "u"),
    ], src, "b2.parquet", 1_000_000_100)

    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )

    table = ManifestSnapshotTable(
        spark,
        os.path.join(workdir, "tbl"),
        keys=["day", "k"],
        order_cols=["seq"],
        partition_by=["day"],
    )
    out = upsert_stream_run(
        spark,
        file_stream(spark, src, TOMB_SCHEMA, max_files_per_trigger=1),
        table,
        workdir=os.path.join(workdir, "run"),
        tombstone_predicate=F.col("op") == "d",
        tombstone_mode="dv",
    )
    got = {(r.day, r.k, r.v) for r in out.collect()}
    assert got == {("d1", 2, "b2"), ("d2", 3, "c")}
    # batch 2's upsert of (d1, 2) rewrote day=d1 AFTER batch 1's dv
    # tombstone (materializing it); batch 2's dv tombstone of (d1, 1)
    # then landed a fresh vector on d1 — visible in the manifest
    dv = table._dv_map(table._manifest_doc())
    assert set(dv) == {"day=d1"}
    # rejects unknown modes up front
    with pytest.raises(ValueError, match="tombstone_mode"):
        upsert_stream_run(
            spark,
            file_stream(spark, src, TOMB_SCHEMA),
            table,
            workdir=os.path.join(workdir, "run2"),
            tombstone_predicate=F.col("op") == "d",
            tombstone_mode="vaporize",
        )
