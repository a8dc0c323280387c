"""Snapshot reads: fragment resolution and cross-version union, time travel (version and timestamp), and the zone-map-pruned range reads.

Mixin module of `ManifestSnapshotTable` — split out of operators/upsert.py
(VERDICT r10 item 6) purely for maintainability: every method still runs
as part of the one table class, composed in upsert.py, and the public
import path (`operators.upsert.ManifestSnapshotTable`) is unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localframe import empty_frame

__all__ = ["_ManifestReadMixin"]


class _ManifestReadMixin:
    # -- read -----------------------------------------------------------
    def _read_fragments(
        self,
        frag_to_version: dict[str, int],
        dv: dict[str, int] | None = None,
        keep_pos: bool = False,
        align: dict | None = None,
    ) -> DataFrame | None:
        """Resolve fragment→holder-version mappings into one DataFrame:
        one scan per holding version (basePath keeps hive partition
        inference working across the per-version data roots), versions
        unioned by name so schema may evolve across commits — the
        whole-fragment form of `_scan_entries_dv`, which does the work.

        ``dv``: deletion-vector map (fragment → dv holder version) from
        the SAME pinned manifest doc as ``frag_to_version`` — doomed
        rows are anti-joined out, so callers see live content.
        ``keep_pos``: retain the ``__rel``/``__ri`` address columns on
        the result (the DV build path needs them).
        ``align``: manifest doc whose declared schema each PER-VERSION
        scan is aligned to BEFORE the cross-version union."""
        entries = [
            (frag, v, os.path.join(self._data_dir(v), frag))
            for frag, v in frag_to_version.items()
        ]
        return self._scan_entries_dv(
            entries, dv or {}, align=align, keep_pos=keep_pos
        )

    def _empty_read(self, doc: dict, m: dict[str, int]) -> DataFrame:
        """An empty frame typed like a read of snapshot ``doc`` (fragment
        map ``m``) — what a read returns when pruning kept nothing.
        Built from the declared schema alone; only docs without a
        recorded schema scan the holders to learn it."""
        sch = doc.get("schema")
        if not sch:
            return self._read_fragments(m, align=doc).filter(F.lit(False))
        ddl = ", ".join("`" + n.replace("`", "``") + f"` {t}" for n, t in sch)
        return empty_frame(self.spark, ddl)

    def read(self, version: int | None = None) -> DataFrame | None:
        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        if not m:
            return None
        return self._read_fragments(m, dv=self._dv_map(doc), align=doc)

    def read_partitions(
        self, combos: Sequence[Sequence], version: int | None = None
    ) -> tuple[DataFrame | None, int, int]:
        """Partition-pruned snapshot read: resolve ONLY the fragments
        whose partition values appear in ``combos`` (each a tuple of
        values aligned to the snapshot's ``partition_by``), the
        manifest-table twin of a hive IN-list partition filter — the
        scan lists the selected fragments' directories and never opens
        the rest.  This is the probe path of partition-keyed indexes
        (the IVF ANN index probes its nprobe cells through it), where
        per-query I/O must track the selected cells, not the table.

        Returns ``(frame, fragments_kept, fragments_total)``; frame is
        None when no requested fragment exists in the snapshot.
        Combos naming no live fragment are ignored (not an error) so a
        probe set may span values the table has not seen yet."""
        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        pcols = list(doc.get("partition_by") or self.partition_by)
        want = {
            self._part_key(
                c if isinstance(c, (list, tuple)) else (c,), pcols
            )
            for c in combos
        }
        kept = {f: v for f, v in m.items() if f in want}
        if not kept:
            return None, 0, len(m)
        frame = self._read_fragments(
            kept, dv=self._dv_map(doc), align=doc
        )
        return frame, len(kept), len(m)

    def version_as_of(self, ts: float) -> int:
        """Resolve a wall-clock timestamp to the snapshot that was
        current then — Delta's ``TIMESTAMP AS OF``: the newest readable
        version whose recorded commit timestamp is <= ``ts``.  Commit
        timestamps ride the manifest's history metadata
        (`_commit_info`); versions with no recorded timestamp
        (pre-history commits) resolve conservatively as "always
        existed".  Raises if ``ts`` predates the first commit, and
        refuses vacuumed history the same way `read(version=...)` does
        (a demoted holder is not a readable snapshot)."""
        best = None
        for v in self.versions():
            info = self._manifest_doc(v).get("commit") or {}
            cts = info.get("ts")
            if cts is None or float(cts) <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no readable snapshot existed at timestamp {ts} "
                "(or its history was vacuumed)"
            )
        return best

    def read_as_of(self, ts: float) -> DataFrame | None:
        """Time travel by timestamp: `read` of `version_as_of(ts)`."""
        return self.read(self.version_as_of(ts))

    def read_where(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[DataFrame | None, int, int, int, int]:
        """Single-column form of `read_where_all` — see there."""
        return self.read_where_all([(col, lo, hi)], version)

    @staticmethod
    def _envelopes_intersect(envs: dict | None, conds) -> bool:
        """True unless SOME condition's recorded envelope proves the
        range empty.  Missing/partial envelopes are unprunable —
        pruning is an optimization, never a filter."""
        for col, lo, hi in conds:
            env = (envs or {}).get(col)
            if env is None or env[0] is None or env[1] is None:
                continue
            if env[1] < lo or env[0] > hi:
                return False
        return True

    def read_where_all(
        self, conds: Sequence[tuple], version: int | None = None
    ) -> tuple[DataFrame | None, int, int, int, int]:
        """Zone-map-pruned range read over a CONJUNCTION of ranges
        (``conds`` = [(col, lo, hi), ...], all inclusive), two tiers of
        data skipping on metadata alone: (1) drop every FRAGMENT whose
        recorded [min, max] envelope for ANY condition's column misses
        its range; (2) inside surviving fragments, drop every FILE the
        same way — which pays once ``compact(cluster_by=[...])`` has
        laid files out over disjoint ranges.  Anything without a
        recorded envelope (fragments or files from pre-``stats_cols``
        commits, or a column absent from that commit's schema) is kept
        conservatively.  The survivors are scanned and the exact
        AND-of-ranges predicate applied.

        This is manifest-level data skipping on non-partition columns —
        at fact-table scale the difference between scanning 2 daily
        partitions and 2000 — complementing the hive-path partition
        pruning read() already gets for ``partition_by`` columns.
        Returns ``(frame, fragments_kept, fragments_total, files_kept,
        files_total)``; frame is None on an empty table.  File counts
        cover the SURVIVING fragments (the denominator pruning tier 2
        works against).
        """
        conds = [tuple(c) for c in conds]
        if not conds:
            raise ValueError("read_where_all needs at least one condition")
        # ONE pinned manifest read: partitions, fragment stats and file
        # stats all come from the same doc — resolving them separately
        # could pair a new commit's envelopes with the old fragment map
        # when a writer lands between the reads, making pruning lossy
        # instead of a pure optimization
        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        if not m:
            return None, 0, 0, 0, 0
        frame, frags_kept, files_kept, files_total = (
            self._pruned_fragment_read(doc, m, conds)
        )
        if frame is None:
            # everything pruned: an empty frame with the table schema
            return (
                self._empty_read(doc, m),
                frags_kept,
                len(m),
                files_kept,
                files_total,
            )
        return frame, frags_kept, len(m), files_kept, files_total

    def _pruned_fragment_read(
        self, doc: dict, frag_map: dict[str, int], conds: Sequence[tuple]
    ) -> tuple[DataFrame | None, int, int, int]:
        """Two-tier zone-map pruning + scan of ``frag_map`` (fragment →
        holder version), with both stats tiers read from the PINNED
        manifest ``doc``, and the exact AND-of-ranges predicate applied
        to the survivors (pruning is an optimization, never a filter).
        Shared by `read_where_all` and the range-filtered change feed
        (`changes`/`tail_changes` ``where=``).  Returns ``(frame,
        fragments_kept, files_kept, files_total)``; frame is None when
        ``frag_map`` is empty or everything was pruned; files_total
        counts files in surviving fragments only."""
        st = doc.get("stats", {})
        keep: dict[str, int] = {}
        for frag, v in frag_map.items():
            if self._envelopes_intersect(st.get(frag), conds):
                keep[frag] = v
        pred = None
        for col, lo, hi in conds:
            c = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
            pred = c if pred is None else pred & c
        if not keep:
            return None, 0, 0, 0
        # tier 2: file-level skipping inside the surviving fragments —
        # file envelopes fetched ONLY for survivors, via the
        # fragment-filtered sidecar read (metadata cost tracks what
        # tier 1 kept, not the table's file count)
        fst = self._file_stats_for(doc, list(keep))
        files_total = files_kept = 0
        entries: list[tuple[str, int, str]] = []
        for frag, v in keep.items():
            frag_dir = os.path.join(self._data_dir(v), frag)
            fdoc = fst.get(frag)
            if not fdoc:
                # no per-file envelopes: whole fragment, conservatively
                n = sum(
                    1
                    for name in os.listdir(frag_dir)
                    if name.endswith(".parquet")
                )
                files_total += n
                files_kept += n
                entries.append((frag, v, frag_dir))
                continue
            files_total += len(fdoc)
            for fname, envs in sorted(fdoc.items()):
                if self._envelopes_intersect(envs, conds):
                    files_kept += 1
                    entries.append(
                        (frag, v, os.path.join(frag_dir, fname))
                    )
        if not entries:
            return None, len(keep), 0, files_total
        dv = {f: v for f, v in self._dv_map(doc).items() if f in keep}
        out = self._scan_entries_dv(entries, dv, align=doc)
        return out.filter(pred), len(keep), files_kept, files_total

    # Reserved key inside stats envelopes: exact per-file / per-fragment
    # row counts, recorded next to the [min, max] envelopes so COUNT(*)
    # can be served from the manifest alone (Iceberg's metadata-only
    # scan).  Not a legal bare SQL identifier, so it cannot collide with
    # a real stats column (the constructor refuses it anyway).
    _ROWS_KEY = "#rows"

    def _compute_stats_both(
        self, new_v: int, schema: list | None
    ) -> tuple[dict, dict]:
        """Zone maps for the files just written under ``new_v``
        (recorded ``schema``, see `_reader`), BOTH
        tiers without re-scanning the data: per-file [min, max]
        envelopes for ``stats_cols`` come straight from the parquet
        FOOTERS the write already produced (column-chunk statistics are
        exact for integer/boolean columns — a metadata-only read, no
        Spark job), with the per-fragment envelopes folded from them
        in plain Python (min of file-mins / max of file-maxes, NULLs
        ignored like the SQL aggregates would).  Every envelope also
        carries the exact row count under the reserved ``#rows`` key
        (both tiers), which is what serves `count_rows` without
        touching data.  Returns ``(fragment_stats, file_stats)``.

        Fallback: a stats column whose footer statistics are missing
        or not provably exact (float stats misbehave around NaN; the
        writer drops string stats over 4 KiB) sends the whole computation
        down the original one-pass Spark aggregate (`_stats_over`), so
        the envelopes are bit-identical either way — the footer path
        is purely an optimization (measured 0.02 s vs 0.57 s per
        commit at sf0.1; OPTIMIZATION_r14.md).  Columns absent from
        this commit's schema get no envelope, and a commit that wrote
        no data files at all (a delete that emptied every touched
        partition) gets empty stats — readers keep envelope-less
        entries conservatively."""
        if not self.stats_cols:
            return {}, {}
        data_dir = self._data_dir(new_v)
        files = [
            os.path.join(dirpath, name)
            for dirpath, _subdirs, names in os.walk(data_dir)
            for name in names
            if name.endswith(".parquet")
        ]
        if not files:
            return {}, {}
        footer = self._stats_from_footers(data_dir, files)
        if footer is not None:
            return footer
        return self._stats_over(self._reader(new_v, schema).parquet(data_dir))

    # Parquet physical types whose column-chunk min/max are exact and
    # JSON-representable.  BYTE_ARRAY qualifies only as a UTF8 string
    # (pyarrow decodes those to `str`; raw binary decodes to `bytes`
    # and is refused below): Spark's parquet writer records string
    # stats untruncated under the unsigned byte-wise order that
    # Spark's own string comparison and Python's code-point order both
    # follow, and drops them entirely (``has_min_max`` False, so the
    # Spark path runs) for a value over 4 KiB.  Floats are excluded
    # (NaN handling differs across writers), date/timestamp logical
    # types are excluded (their Python values are not
    # JSON-serializable like the Spark-aggregate path's).
    _FOOTER_EXACT_PHYSICAL = ("INT32", "INT64", "BOOLEAN", "BYTE_ARRAY")

    def _stats_from_footers(
        self, data_dir: str, files: list[str]
    ) -> tuple[dict, dict] | None:
        """Both zone-map tiers from parquet footers alone, or None when
        any stats column's footer statistics cannot be trusted to match
        the exact Spark aggregate (caller then runs `_stats_over`).
        Matches `_stats_over`'s output exactly: per-file envelopes for
        the stats columns present in that file's schema ([None, None]
        for an all-NULL column), fragment envelopes folded across files,
        exact ``#rows`` counts on both tiers."""
        import pyarrow.parquet as pq

        rk = self._ROWS_KEY
        want = set(self.stats_cols)
        file_stats: dict[str, dict[str, dict]] = {}
        frag_stats: dict[str, dict] = {}
        for fp in files:
            frag = os.path.relpath(os.path.dirname(fp), data_dir)
            # an unpartitioned table's one fragment is "" (`_part_key`
            # of no columns), not relpath's "."
            frag = "" if frag == "." else frag.replace(os.sep, "/")
            try:
                md = pq.ParquetFile(fp).metadata
            except Exception:
                return None
            if md.num_rows == 0:
                # `_stats_over`'s groupBy emits no row for an empty
                # file — mirror that by skipping it entirely
                continue
            # column name → flat column indexes (nested fields have
            # dotted paths and never match a top-level stats col)
            idx: dict[str, list[int]] = {}
            for ci in range(md.num_columns):
                path = md.row_group(0).column(ci).path_in_schema
                if path in want:
                    idx.setdefault(path, []).append(ci)
            fenv: dict = {}
            for c in self.stats_cols:
                cis = idx.get(c)
                if not cis:
                    continue  # column absent from this file's schema
                if len(cis) != 1:
                    return None
                mn = mx = None
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(cis[0])
                    if col.physical_type not in self._FOOTER_EXACT_PHYSICAL:
                        return None
                    st = col.statistics
                    if st is None:
                        return None
                    if not st.has_min_max:
                        if st.num_values == 0:
                            continue  # all-NULL row group: no envelope
                        return None
                    try:
                        smn, smx = st.min, st.max
                    except UnicodeDecodeError:
                        # a Spark string holding invalid UTF-8 (e.g. a
                        # cast from binary) has undecodable stats
                        return None
                    # exact only for plain int/bool/str values — a
                    # logical type that decodes to date/datetime/decimal
                    # (or raw binary to bytes) lands here as something
                    # else and sends us to the Spark path
                    if not isinstance(smn, (int, str)) or type(smn) is not type(
                        smx
                    ):
                        return None
                    mn = smn if mn is None else min(mn, smn)
                    mx = smx if mx is None else max(mx, smx)
                fenv[c] = [mn, mx]
            fenv[rk] = int(md.num_rows)
            fname = os.path.basename(fp)
            file_stats.setdefault(frag, {})[fname] = fenv
            env = frag_stats.setdefault(frag, {rk: 0})
            env[rk] += int(md.num_rows)
            for c, (mn, mx) in (
                (c, v) for c, v in fenv.items() if c != rk
            ):
                if c not in env:
                    env[c] = [None, None]
                if mn is not None and (env[c][0] is None or mn < env[c][0]):
                    env[c][0] = mn
                if mx is not None and (env[c][1] is None or mx > env[c][1]):
                    env[c][1] = mx
        return frag_stats, file_stats

    def _stats_over(self, df: DataFrame) -> tuple[dict, dict]:
        """One stats-column pass over a file scan → both zone-map
        tiers (shared by the write-path `_compute_stats_both` and the
        no-rewrite `backfill_stats`).  One aggregate row per data file
        — bounded control data."""
        present = [c for c in self.stats_cols if c in df.columns]
        aggs = [F.count(F.lit(1)).alias("__nr")]
        for c in present:
            aggs.append(F.min(c).alias(f"mn_{c}"))
            aggs.append(F.max(c).alias(f"mx_{c}"))
        grouped = df.groupBy(
            F.col("_metadata.file_path").alias("__fp"), *self.partition_by
        ).agg(*aggs)
        rk = self._ROWS_KEY
        file_stats: dict[str, dict[str, dict[str, list]]] = {}
        frag_stats: dict[str, dict[str, list]] = {}
        for r in grouped.collect():
            d = r.asDict()
            frag = self._part_key([d[c] for c in self.partition_by])
            fname = os.path.basename(d["__fp"])
            fenv = {c: [d[f"mn_{c}"], d[f"mx_{c}"]] for c in present}
            fenv[rk] = int(d["__nr"])
            file_stats.setdefault(frag, {})[fname] = fenv
            env = frag_stats.setdefault(
                frag, {c: [None, None] for c in present} | {rk: 0}
            )
            env[rk] += int(d["__nr"])
            for c in present:
                mn, mx = d[f"mn_{c}"], d[f"mx_{c}"]
                if mn is not None and (env[c][0] is None or mn < env[c][0]):
                    env[c][0] = mn
                if mx is not None and (env[c][1] is None or mx > env[c][1]):
                    env[c][1] = mx
        return frag_stats, file_stats

