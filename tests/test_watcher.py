"""Modified-file re-ingest (VERDICT r5 item 5; reference pro.py:94-108).

The reference's watchdog fires on on_modified and reprocesses an
in-place-overwritten spreadsheet, relying on the row-hash dict to
suppress unchanged rows.  Spark's file stream source never re-reads a
modified path, so sources/watcher.py adds the file-level CDC layer:
content-hash change detection → read_excel → row-hash diff vs the
file's previous snapshot → keyed MERGE.  These tests pin the whole
chain: only changed/new rows flow to the sink, a content-preserving
touch emits nothing, and replay is idempotent.
"""

from __future__ import annotations

import os

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.watcher import (
    DropFolderMonitor,
    DropIngestor,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xls import (
    write_minimal_xls,
)

V1 = [
    ["B001", 8.5, True],
    ["B002", 4.0, False],
    ["B003", 6.0, True],
]
# B002's grade corrected, B004 appended; B001/B003 byte-identical
V2 = [
    ["B001", 8.5, True],
    ["B002", 7.5, True],
    ["B003", 6.0, True],
    ["B004", 5.0, True],
]
HEADER = ["F_MASV", "F_DIEM2", "F_PASSED"]


def _ingestor(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    table = ManifestSnapshotTable(
        spark,
        str(tmp_path / "serving"),
        keys=["F_MASV"],
        order_cols=["ingest_seq"],
    )
    return (
        DropIngestor(spark, str(drop), str(tmp_path / "state"), table),
        str(drop / "grades.xls"),
        table,
    )


def test_modified_file_reemits_only_changed_rows(spark, tmp_path):
    ing, path, table = _ingestor(spark, tmp_path)

    write_minimal_xls(path, HEADER, V1)
    first = ing.process_once()
    assert first is not None and first.count() == 3  # all rows: new file

    # idle poll: nothing changed, nothing flows
    assert ing.process_once() is None

    # in-place overwrite — the reference's on_modified case
    write_minimal_xls(path, HEADER, V2)
    second = ing.process_once()
    got = {r.F_MASV: (r.F_DIEM2, r.F_PASSED) for r in second.collect()}
    assert got == {"B002": (7.5, True), "B004": (5.0, True)}

    # serving table holds the merged final state
    state = {
        r.F_MASV: (r.F_DIEM2, r.F_PASSED) for r in table.read().collect()
    }
    assert state == {
        "B001": (8.5, True),
        "B002": (7.5, True),
        "B003": (6.0, True),
        "B004": (5.0, True),
    }


def test_spark_written_hash_snapshot_still_diffs(spark, tmp_path):
    """A row-hash snapshot in the layout Spark's parquet writer leaves
    (part files, `_SUCCESS`, `.crc` side files) — what earlier releases
    wrote — still suppresses the unchanged rows of the next upload."""
    import shutil

    ing, path, table = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    ing.process_once()
    snap = ing._rowhash_path(path)
    spark.read.parquet(snap).repartition(2).write.parquet(snap + ".spark")
    shutil.rmtree(snap)
    os.replace(snap + ".spark", snap)

    write_minimal_xls(path, HEADER, V2)
    got = {r.F_MASV for r in ing.process_once().collect()}
    assert got == {"B002", "B004"}


def test_touch_without_edit_emits_nothing(spark, tmp_path):
    ing, path, _ = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    assert ing.process_once().count() == 3

    # bump mtime, keep content — monitor re-hashes, hash unchanged
    os.utime(path, ns=(1_000_000_000_000_000_000, 1_000_000_000_000_000_000))
    assert ing.process_once() is None


def test_monitor_state_survives_restart(spark, tmp_path):
    ing, path, _ = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    assert ing.process_once().count() == 3

    # a fresh monitor over the same state dir sees nothing new
    fresh = DropFolderMonitor(
        os.path.dirname(path), os.path.join(str(tmp_path / "state"), "files.json")
    )
    assert fresh.poll() == []

    # …but still catches a subsequent in-place edit
    write_minimal_xls(path, HEADER, V2)
    assert fresh.poll() == [path]


def test_crash_mid_ingest_reemits_file(spark, tmp_path):
    """A failure after change detection but before the MERGE must NOT
    lose the file: monitor state commits only after durable ingest, so
    the next scan re-emits it and the table converges."""
    ing, path, table = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    assert ing.process_once().count() == 3

    write_minimal_xls(path, HEADER, V2)
    real_upsert = table.upsert
    calls = {"n": 0}

    def failing_upsert(batch):
        calls["n"] += 1
        raise RuntimeError("simulated sink outage")

    table.upsert = failing_upsert
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="sink outage"):
            ing.process_once()
    finally:
        table.upsert = real_upsert
    assert calls["n"] == 1

    # retry: the overwrite is re-detected and the same rows flow
    retry = ing.process_once()
    got = {r.F_MASV: (r.F_DIEM2, r.F_PASSED) for r in retry.collect()}
    assert got == {"B002": (7.5, True), "B004": (5.0, True)}
    state = {r.F_MASV: r.F_DIEM2 for r in table.read().collect()}
    assert state == {"B001": 8.5, "B002": 7.5, "B003": 6.0, "B004": 5.0}

    # and the folder is now quiescent
    assert ing.process_once() is None


def test_unreadable_file_quarantined_not_wedging(spark, tmp_path):
    """A corrupt drop must not block the rest of the folder or re-abort
    every batch: it is quarantined (committed as seen) and re-enters
    only when its content changes."""
    ing, path, table = _ingestor(spark, tmp_path)
    drop_dir = os.path.dirname(path)
    bad = os.path.join(drop_dir, "aaa_corrupt.xls")  # sorts BEFORE grades
    with open(bad, "wb") as fh:
        fh.write(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 600)
    write_minimal_xls(path, HEADER, V1)

    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        first = ing.process_once()
    assert first is not None and first.count() == 3  # good file flowed
    assert any("aaa_corrupt" in str(w.message) for w in caught)

    # quarantined: the corrupt file does not re-emit on an idle poll
    assert ing.process_once() is None

    # …until its content changes into something readable
    write_minimal_xls(bad, HEADER, [["X001", 1.0, True]])
    recovered = ing.process_once()
    assert {r.F_MASV for r in recovered.collect()} == {"X001"}


def test_sink_failure_replays_unreturned_rows(spark, tmp_path):
    """Rows logged by a batch whose MERGE crashed are replayed — merged
    AND returned — by the next successful batch (the returned_seq
    watermark), so no changed row is ever silently dropped from the
    feed."""
    ing, path, table = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    assert ing.process_once().count() == 3

    write_minimal_xls(path, HEADER, V2)
    real_upsert = table.upsert
    table.upsert = lambda batch: (_ for _ in ()).throw(
        RuntimeError("sink outage")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="sink outage"):
            ing.process_once()
    finally:
        table.upsert = real_upsert

    # retry: the re-emitted file logs a fresh seq AND the orphaned seq
    # is inside the `> returned_seq` window — both merge, keys dedupe
    retry = ing.process_once()
    got = {r.F_MASV: (r.F_DIEM2, r.F_PASSED) for r in retry.collect()}
    assert got == {"B002": (7.5, True), "B004": (5.0, True)}
    state = {r.F_MASV: r.F_DIEM2 for r in table.read().collect()}
    assert state == {"B001": 8.5, "B002": 7.5, "B003": 6.0, "B004": 5.0}
    assert ing.process_once() is None


def test_non_spreadsheet_files_ignored(spark, tmp_path):
    ing, path, _ = _ingestor(spark, tmp_path)
    with open(os.path.join(os.path.dirname(path), "notes.txt"), "w") as fh:
        fh.write("not a spreadsheet")
    assert ing.process_once() is None


def test_quiet_folder_replays_unreturned_rows(spark, tmp_path):
    """Crash AFTER the MERGE + monitor commits but BEFORE the
    returned_seq write, with the folder then staying quiet: the merged
    rows were never returned, and a plain `if not pending: return None`
    would drop them from the feed forever.  The next process_once()
    must replay the unreturned log window (ADVICE r6)."""
    ing, path, table = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    assert ing.process_once().count() == 3

    write_minimal_xls(path, HEADER, V2)
    real_write = ing._write_returned
    ing._write_returned = lambda seq: (_ for _ in ()).throw(
        RuntimeError("power loss")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="power loss"):
            ing.process_once()
    finally:
        ing._write_returned = real_write

    # the folder is quiet (monitor committed before the crash point) —
    # the unreturned window must still come back, exactly once
    replay = ing.process_once()
    got = {r.F_MASV: (r.F_DIEM2, r.F_PASSED) for r in replay.collect()}
    assert got == {"B002": (7.5, True), "B004": (5.0, True)}
    state = {r.F_MASV: r.F_DIEM2 for r in table.read().collect()}
    assert state == {"B001": 8.5, "B002": 7.5, "B003": 6.0, "B004": 5.0}
    assert ing.process_once() is None


def test_returned_batch_stable_after_later_batches(spark, tmp_path):
    """The returned DataFrame is lazy over the append-only log; it is
    bounded on BOTH sides of its seq window, so collecting it after a
    later batch has appended newer rows still yields only its own
    batch's rows (ADVICE r6)."""
    ing, path, _ = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    first = ing.process_once()
    write_minimal_xls(path, HEADER, V2)
    second = ing.process_once()
    # collect the FIRST batch only now, after the second appended
    assert {r.F_MASV for r in first.collect()} == {"B001", "B002", "B003"}
    assert {r.F_MASV for r in second.collect()} == {"B002", "B004"}


def test_recover_table_rebuilds_a_lost_table_dir(spark, tmp_path):
    """Disaster recovery: with the serving table's directory gone,
    `recover_table()` replays the whole changed-rows log into it and
    the table reads exactly as before the loss, through the ingestor's
    own handle (which has read, and cached, the lost versions) and
    through a fresh one."""
    import shutil

    ing, path, table = _ingestor(spark, tmp_path)
    write_minimal_xls(path, HEADER, V1)
    ing.process_once()
    write_minimal_xls(path, HEADER, V2)
    ing.process_once()

    def rows(t):
        df = t.read()
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    before = rows(table)
    assert len(before) == 4
    shutil.rmtree(table.path)
    ing.recover_table()
    assert rows(table) == before
    fresh = ManifestSnapshotTable(
        spark, table.path, keys=["F_MASV"], order_cols=["ingest_seq"]
    )
    assert rows(fresh) == before


def test_monitor_tracks_directory_shaped_datasets(tmp_path):
    """`table.parquet/` DIRECTORIES (the layout Spark writers produce)
    are hashed by member-file content: in-place member edits are
    detected, untouched polls emit nothing, and plain files still work
    alongside (the tools/report.py --serve watch path)."""
    folder = tmp_path / "data"
    folder.mkdir()
    table = folder / "orders.parquet"
    table.mkdir()
    (table / "part-00000").write_bytes(b"aaa")
    (table / "part-00001").write_bytes(b"bbb")
    (folder / "nation.parquet").write_bytes(b"flat-file")

    mon = DropFolderMonitor(
        str(folder), str(tmp_path / "state.json"), exts=(".parquet",)
    )
    assert sorted(os.path.basename(p) for p in mon.poll()) == [
        "nation.parquet",
        "orders.parquet",
    ]
    assert mon.poll() == []  # untouched: nothing re-emitted
    (table / "part-00001").write_bytes(b"BBB")  # in-place member edit
    assert [os.path.basename(p) for p in mon.poll()] == ["orders.parquet"]
    assert mon.poll() == []


def test_monitor_tracks_hive_partitioned_datasets(tmp_path):
    """Hive-partitioned tables nest part files one level per partition
    column (day=d1/part-*.parquet — exactly what Spark's
    ``partitionBy`` writer produces).  The directory hash must walk
    recursively: nested edits, new partitions, and deleted partitions
    all change the digest; untouched polls emit nothing."""
    folder = tmp_path / "data"
    folder.mkdir()
    table = folder / "events.parquet"
    (table / "day=d1").mkdir(parents=True)
    (table / "day=d2").mkdir()
    (table / "day=d1" / "part-00000").write_bytes(b"aaa")
    (table / "day=d2" / "part-00000").write_bytes(b"bbb")

    mon = DropFolderMonitor(
        str(folder), str(tmp_path / "state.json"), exts=(".parquet",)
    )
    assert [os.path.basename(p) for p in mon.poll()] == ["events.parquet"]
    assert mon.poll() == []  # untouched: nothing re-emitted
    # in-place edit inside a partition subdir
    (table / "day=d1" / "part-00000").write_bytes(b"AAA")
    assert [os.path.basename(p) for p in mon.poll()] == ["events.parquet"]
    assert mon.poll() == []
    # a new partition dir appears
    (table / "day=d3").mkdir()
    (table / "day=d3" / "part-00000").write_bytes(b"ccc")
    assert [os.path.basename(p) for p in mon.poll()] == ["events.parquet"]
    assert mon.poll() == []
    # a partition dir disappears
    import shutil

    shutil.rmtree(table / "day=d2")
    assert [os.path.basename(p) for p in mon.poll()] == ["events.parquet"]
    assert mon.poll() == []


def test_monitor_ignores_staging_dirs_and_broken_entries(tmp_path):
    """In-flight writer debris must neither crash the scan nor flap the
    digest: Spark's commit protocol creates/renames/deletes under
    _temporary/.spark-staging-* mid-write, and a broken symlink (or a
    file deleted mid-walk) must be skipped, not raised."""
    folder = tmp_path / "data"
    folder.mkdir()
    table = folder / "events.parquet"
    (table / "day=d1").mkdir(parents=True)
    (table / "day=d1" / "part-00000").write_bytes(b"aaa")

    mon = DropFolderMonitor(
        str(folder), str(tmp_path / "state.json"), exts=(".parquet",)
    )
    assert [os.path.basename(p) for p in mon.poll()] == ["events.parquet"]
    # writer staging dirs appear mid-write: digest must not change
    (table / "_temporary" / "0").mkdir(parents=True)
    (table / "_temporary" / "0" / "part-x").write_bytes(b"half-written")
    (table / ".spark-staging-123").mkdir()
    (table / ".spark-staging-123" / "part-y").write_bytes(b"tmp")
    assert mon.poll() == []
    # a broken symlink inside the dataset must not wedge the poll loop
    os.symlink(str(table / "gone"), str(table / "day=d1" / "dangling"))
    assert mon.poll() == []
    # real content edits are still detected alongside the debris
    (table / "day=d1" / "part-00000").write_bytes(b"AAA")
    assert [os.path.basename(p) for p in mon.poll()] == ["events.parquet"]
