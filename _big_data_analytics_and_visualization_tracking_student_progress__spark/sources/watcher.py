"""Drop-folder watcher with modified-file re-ingest (S2 parity).

Reference behavior (pro.py:94-108): a watchdog observer fires on BOTH
`on_created` and `on_modified` — an in-place overwrite of an already
-processed spreadsheet re-feeds the whole file, and the row-hash dict
(pro.py:18,46-55) suppresses the unchanged rows.

Spark's file stream source covers `on_created` but never re-reads a
modified path (sources/readers.py:129 documents the gap; VERDICT r5
item 5 closes it).  This module adds the missing half as a file-level
CDC layer — the file-granularity analog of operators/cdc.py's
`diff_snapshots`:

- `DropFolderMonitor` keeps a `{path: (size, mtime_ns, content_md5)}`
  snapshot (JSON, restart-safe).  `poll()` stats the folder, re-hashes
  only files whose cheap stat signature moved, and emits the paths
  whose CONTENT actually changed (mtime alone is not trusted — a
  touch without an edit re-emits nothing).
- `DropIngestor.process_once()` re-reads each emitted file
  (`read_excel`: .xlsx or .xls by magic), diffs its rows against the
  file's persisted row-hash snapshot (operators/cdc.py `with_row_hash`
  set difference — byte-identical rows are suppressed, exactly the
  reference's semantics), appends the surviving rows to a parquet
  changed-rows log stamped with a monotonic `ingest_seq`, and MERGEs
  them into the keyed serving table.

Scale posture: the folder listing / file hashing is driver-side by
design — a drop folder is an operational inbox of small spreadsheets
(the reference's is a single directory of .xls files), not a data lake.
A parsed sheet is driver-local already, so the row-hash diff against
its snapshot (one hash per sheet row) runs on the driver too; the MERGE
is a distributed DataFrame op, and the changed-rows log is an
append-only parquet audit feed that downstream jobs can stream from.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.cdc import HASH_COL, with_row_hash
from ..operators.upsert import ManifestSnapshotTable

SEQ_COL = "ingest_seq"


class DropFolderMonitor:
    """File-level change detection over a drop folder.

    The snapshot maps path → (size, mtime_ns, md5).  A file is emitted
    when it is new or its content hash changed; the (size, mtime_ns)
    pair only gates which files get re-hashed, so an untouched 10k-file
    inbox costs one listdir + stats, no reads."""

    def __init__(
        self,
        folder: str,
        state_path: str,
        exts: Sequence[str] = (".xlsx", ".xls"),
        paranoid: bool = False,
    ):
        self.folder = folder
        self.state_path = state_path
        self.exts = tuple(exts)
        self.paranoid = paranoid
        self._state: dict[str, list] = {}
        if os.path.exists(state_path):
            with open(state_path) as fh:
                self._state = json.load(fh)

    def _persist(self) -> None:
        os.makedirs(os.path.dirname(self.state_path), exist_ok=True)
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._state, fh)
        os.replace(tmp, self.state_path)

    @staticmethod
    def _md5(path: str) -> str:
        """Content hash of a file, or of a DIRECTORY-shaped dataset
        (e.g. a `table.parquet/` directory of part files, the layout
        Spark writers produce).  Directories are walked RECURSIVELY —
        hive-partitioned tables nest their part files one level per
        partition column (``table.parquet/day=d1/part-*.parquet``), so a
        top-level-only hash would be a constant and content changes in
        any partition would go undetected.  Relative paths + contents
        are hashed in sorted order so the digest is walk-order-stable."""
        h = hashlib.md5()
        if os.path.isdir(path):
            for dirpath, dirnames, filenames in os.walk(path):
                # never descend into in-flight writer staging dirs —
                # Spark's commit protocol creates/renames/deletes under
                # _temporary/.spark-staging-* mid-write, which would
                # make the digest flap (double ingest of a half-written
                # table) and race file removal
                dirnames[:] = sorted(
                    d
                    for d in dirnames
                    if not (
                        d.startswith("_temporary")
                        or d.startswith(".spark-staging")
                    )
                )
                for name in sorted(filenames):
                    sub = os.path.join(dirpath, name)
                    # regular files only (skip FIFOs/broken symlinks),
                    # and tolerate entries deleted between the listing
                    # and the read — the next poll re-hashes
                    if not os.path.isfile(sub):
                        continue
                    rel = os.path.relpath(sub, path)
                    try:
                        with open(sub, "rb") as fh:
                            h.update(rel.encode())
                            for block in iter(
                                lambda: fh.read(1 << 20), b""
                            ):
                                h.update(block)
                    except OSError:
                        continue
            return h.hexdigest()
        with open(path, "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
        return h.hexdigest()

    def scan(self) -> dict[str, list]:
        """Paths whose content is new or changed since the last commit,
        mapped to their fresh (size, mtime_ns, md5) signature.  Does NOT
        touch persisted state: a changed path only leaves the changed
        set once the caller has fully processed it and called
        `commit(path, sig)` — so a crash mid-ingest re-emits the file on
        the next scan instead of silently losing it.

        Known gate semantics (the rsync quick-check trade-off): a file
        whose size AND mtime_ns both match the committed signature is
        not re-hashed, so an in-place same-size overwrite within the
        filesystem's timestamp granularity goes undetected.  ext4/xfs
        report nanoseconds, where this is vanishing; on coarse-mtime
        filesystems construct the monitor with ``paranoid=True`` to
        hash every file on every scan."""
        changed: dict[str, list] = {}
        dirty = False
        for name in sorted(os.listdir(self.folder)):
            if not name.lower().endswith(self.exts):
                continue
            path = os.path.join(self.folder, name)
            try:
                st = os.stat(path)
            except OSError:
                continue
            prev = self._state.get(path)
            if (
                not self.paranoid
                and prev is not None
                and prev[0] == st.st_size
                and prev[1] == st.st_mtime_ns
                # a directory's (size, mtime) doesn't track member-file
                # CONTENT edits — always re-hash directory datasets
                and not os.path.isdir(path)
            ):
                continue  # stat signature unchanged: skip the re-hash
            digest = self._md5(path)
            if prev is None or prev[2] != digest:
                changed[path] = [st.st_size, st.st_mtime_ns, digest]
            elif prev[1] != st.st_mtime_ns:
                # touched but content-identical: refresh the cheap gate
                # (persisted ONCE after the loop — a `touch *` sweep over
                # a 10k-file inbox must not rewrite the state 10k times)
                self._state[path] = [st.st_size, st.st_mtime_ns, digest]
                dirty = True
        if dirty:
            self._persist()
        return changed

    def commit(self, path: str, sig: list) -> None:
        """Record `path` as fully processed at signature `sig` — called
        only after the file's rows are durably ingested."""
        self._state[path] = sig
        self._persist()

    def poll(self) -> list[str]:
        """scan() + immediate commit of every changed path — for callers
        that only need change NOTIFICATION, not exactly-once ingest."""
        changed = self.scan()
        for path, sig in changed.items():
            self.commit(path, sig)
        return list(changed)


class DropIngestor:
    """created+modified spreadsheet ingest → row-hash CDC → keyed MERGE.

    One instance owns a drop folder, its file/row snapshots under
    `state_dir`, and the keyed serving table.  `process_once()` is the
    micro-batch: scan → per-file (parse → row diff → changed-rows log)
    → ONE batch MERGE → per-file (snapshot replace → monitor commit).
    Replay-idempotent: re-processing an unchanged folder is a no-op,
    re-feeding identical rows merges to the same table state, and a
    crash mid-batch re-emits the unfinished files on the next scan
    (see `process_once` for the exact protocol)."""

    def __init__(
        self,
        spark: SparkSession,
        folder: str,
        state_dir: str,
        table: ManifestSnapshotTable,
        cdc_cols: Sequence[str] | None = None,
        paranoid: bool = False,
    ):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.table = table
        self.cdc_cols = list(cdc_cols) if cdc_cols else None
        self.monitor = DropFolderMonitor(
            folder, os.path.join(state_dir, "files.json"), paranoid=paranoid
        )
        self.log_path = os.path.join(state_dir, "changed_rows")
        self.log_schema_path = os.path.join(state_dir, "changed_rows.schema.json")

    # -- per-file row-hash snapshots ------------------------------------
    def _rowhash_path(self, path: str) -> str:
        stem = hashlib.md5(path.encode()).hexdigest()
        return os.path.join(self.state_dir, "rowhash", stem)

    def _prev_hashes(self, path: str) -> set[str] | None:
        """Row hashes of the file's last ingested version (None before
        its first ingest), read on the driver: one string per sheet
        row, the same bound as the driver-local sheet itself."""
        import pyarrow.parquet as pq

        p = self._rowhash_path(path)
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            return None
        return set(pq.read_table(p, columns=[HASH_COL]).column(0).to_pylist())

    def _write_hashes(self, path: str, hashes: set[str]) -> None:
        """Replace the file's row-hash snapshot: written aside, marked
        complete, then swapped in."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        final = self._rowhash_path(path)
        tmp = final + ".new"
        shutil.rmtree(tmp, ignore_errors=True)  # a crashed attempt's debris
        os.makedirs(tmp)
        pq.write_table(
            pa.table({HASH_COL: pa.array(sorted(hashes), pa.string())}),
            os.path.join(tmp, "part-00000.parquet"),
        )
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

    def _counter(self, name: str, advance: bool = False) -> int:
        path = os.path.join(self.state_dir, name)
        n = 0
        if os.path.exists(path):
            with open(path) as fh:
                n = int(fh.read().strip() or 0)
        if advance:
            n += 1
            tmp = path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(str(n))
            os.replace(tmp, path)
        return n

    def process_once(self) -> DataFrame | None:
        """One ingest micro-batch.  Returns the changed rows that flowed
        to the sink since the last successful batch (read back from the
        append-only log, so the result is stable after the snapshots
        move on), or None if nothing changed.

        Crash-safety protocol — at-least-once with an idempotent MERGE:

        1. per file: parse → row-hash diff vs the file's old snapshot →
           append survivors to the log under this batch's `ingest_seq`.
           A file that fails to PARSE (corrupt, unsupported format) is
           quarantined — committed as seen so it can't wedge the folder;
           it re-enters when its content changes.  Parsing is wholly
           driver-side, so a parse error can't be a transient infra
           fault.
        2. ONE keyed MERGE of every logged row newer than the last
           returned batch (`returned_seq`) — batch granularity keeps the
           table rewrite at one per batch, not one per file, and the
           `> returned_seq` filter replays rows a crashed previous batch
           logged (and possibly merged) but never returned.
        3. per file: row-hash snapshot replace → monitor commit.  Both
           happen only after the MERGE that contains the file's rows.

        A crash anywhere before step 3 leaves the failed files'
        monitor/snapshot state untouched: the next scan re-emits them,
        the diff reproduces the same rows under a new seq, and the MERGE
        (ordered by `ingest_seq`) collapses the replay by key.  The log
        is therefore an at-least-once audit feed — duplicates are
        distinguishable by seq — while the serving table converges.
        Each MERGE is one atomic manifest commit, so a crash mid-MERGE
        leaves the table at its previous version; `recover_table()` is
        only for a lost table dir."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from .readers import read_excel

        pending = self.monitor.scan()
        if not pending:
            # A previous batch may have logged + merged rows and then
            # crashed before advancing `returned_seq`.  If the folder
            # then stays quiet, those rows would otherwise never be
            # returned — replay the unreturned log window here so no
            # changed row is ever silently dropped from the feed.
            return self._replay_unreturned()
        seq = self._counter("seq", advance=True)
        staged: list[tuple[str, list, set[str]]] = []
        wrote = False
        for path, sig in pending.items():
            try:
                df = read_excel(self.spark, path)
            except Exception as exc:  # noqa: BLE001 — parse tier only
                # poison-pill quarantine: an unreadable drop must not
                # block the rest of the folder or re-abort every batch
                import warnings

                warnings.warn(
                    f"drop-folder ingest: skipping unreadable {path!r}: "
                    f"{exc!r} (will retry when its content changes)",
                    stacklevel=2,
                )
                self.monitor.commit(path, sig)
                continue
            cols = self.cdc_cols or df.columns
            hashed = with_row_hash(df, cols)
            # the sheet is driver-local (read_excel), so collecting it
            # hashed runs no job, the diff against the old snapshot is
            # a set difference on the driver, and the changed rows go
            # back to Spark as an Arrow LocalRelation (no Python worker,
            # no per-row literal in the plan)
            rows = hashed.collect()
            hashes = {r[HASH_COL] for r in rows}
            prev = self._prev_hashes(path)
            fresh = hashes if prev is None else hashes - prev
            if fresh:
                keep = [r for r in rows if r[HASH_COL] in fresh]
                schema = to_arrow_schema(hashed.schema)
                changed = pa.Table.from_arrays(
                    [
                        pa.array([r[i] for r in keep], f.type)
                        for i, f in enumerate(schema)
                    ],
                    schema=schema,
                )
                logged = self.spark.createDataFrame(
                    changed, hashed.schema
                ).withColumn(SEQ_COL, F.lit(seq))
                self._record_log_schema(logged.schema)
                logged.write.mode("append").parquet(self.log_path)
                wrote = True
            staged.append((path, sig, hashes))

        returned_before = self._counter("returned_seq")
        batch = None
        if wrote or returned_before < seq - 1:
            # one MERGE per batch, from the materialized log — includes
            # any rows a crashed previous batch logged but never returned
            if os.path.exists(os.path.join(self.log_path, "_SUCCESS")):
                batch = self._log_window(returned_before, seq)
                # the rows this batch logged lie inside the window, so
                # only a replay-only window can be empty
                if not wrote and batch.isEmpty():
                    batch = None
                else:
                    self.table.upsert(batch)
        # snapshots + monitor commits only after the MERGE landed
        for path, sig, hashes in staged:
            self._write_hashes(path, hashes)
            self.monitor.commit(path, sig)
        if batch is None:
            return None
        self._write_returned(seq)
        return batch

    # -- the changed-rows log ---------------------------------------------
    def _record_log_schema(self, schema: StructType) -> None:
        """Keep the schema of the rows about to be appended to the log
        next to it, replaced atomically, before the append."""
        tmp = self.log_schema_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(schema.json())
        os.replace(tmp, self.log_schema_path)

    def _read_log(self) -> DataFrame:
        """The whole changed-rows log, read with the schema this
        ingestor writes to it: no schema-inference job, whose listing
        would grow with every batch the log has ever received.  A log
        written before the schema was kept falls back to inference."""
        reader = self.spark.read
        if os.path.exists(self.log_schema_path):
            with open(self.log_schema_path) as fh:
                reader = reader.schema(StructType.fromJson(json.load(fh)))
        return reader.parquet(self.log_path)

    def _log_window(self, lo: int, hi: int) -> DataFrame:
        """Log rows with `lo < ingest_seq <= hi`.  Bounded on BOTH
        sides: the returned DataFrame is lazy over the append-only log,
        so an upper bound is what keeps a batch stable after later
        batches append newer rows."""
        return (
            self._read_log()
            .filter((F.col(SEQ_COL) > lo) & (F.col(SEQ_COL) <= hi))
            .drop(HASH_COL)
        )

    def _write_returned(self, seq: int) -> None:
        tmp = os.path.join(self.state_dir, "returned_seq.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(seq))
        os.replace(tmp, os.path.join(self.state_dir, "returned_seq"))

    def _replay_unreturned(self) -> DataFrame | None:
        """Quiet-folder crash recovery: if the seq counter is ahead of
        `returned_seq`, a prior batch logged (and possibly merged) rows
        but died before returning them.  Re-merge that log window (the
        MERGE is idempotent by key) and return it, then advance the
        watermark."""
        seq = self._counter("seq")
        returned_before = self._counter("returned_seq")
        if seq <= returned_before or not os.path.exists(
            os.path.join(self.log_path, "_SUCCESS")
        ):
            return None
        batch = self._log_window(returned_before, seq)
        if batch.isEmpty():
            # nothing actually logged in the gap (the crashed batch died
            # before its first log append) — close the window so quiet
            # scans stay O(1)
            self._write_returned(seq)
            return None
        self.table.upsert(batch)
        self._write_returned(seq)
        return batch

    def recover_table(self) -> None:
        """Disaster recovery: rebuild the serving table from the full
        changed-rows log (at-least-once rows + `ingest_seq`-ordered
        keyed MERGE → the same converged state).  Commits are atomic,
        so a crashed MERGE never needs this — it is for a table
        directory that was lost (deleted, or its disk replaced)."""
        if not os.path.exists(os.path.join(self.log_path, "_SUCCESS")):
            return
        self.table.upsert(self._read_log().drop(HASH_COL))
