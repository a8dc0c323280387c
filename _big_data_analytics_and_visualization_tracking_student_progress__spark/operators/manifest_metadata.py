"""Two-tier zone-map stats (fragment envelopes in the manifest JSON, per-file envelopes in fragment-filtered parquet sidecars), deletion-vector scan helpers, per-file bloom bitsets, and the metadata-only aggregates they serve.

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


__all__ = ["_ManifestMetadataMixin"]


class _ManifestMetadataMixin:
    # -- file-stats sidecar ------------------------------------------------
    # Per-version parquet shard of the per-FILE zone maps: one row per
    # (fragment, file) with typed mn_/mx_ envelope columns and the
    # exact row count.  Written driver-side (bounded control data —
    # exactly what the stats collect already holds), read driver-side
    # through pyarrow with a fragment filter, so metadata read cost
    # tracks the fragments a read actually keeps, not the table's
    # total file count — the property that keeps 10^5-10^6-file
    # tables (true 100 TB cardinality) off the driver's heap.
    _FSTATS_SIDECAR = "filestats.parquet"

    def partition_stats(self, version: int | None = None) -> dict:
        """Per-fragment occupancy from manifest metadata — zero data
        reads: LIVE row count (fragment ``#rows`` envelope minus
        deletion-vector cardinality; None for pre-stats commits) and
        data-file count (file-stats sidecar when recorded, else a
        directory listing of the holder version's fragment).  The raw
        material for partition-keyed-index skew telemetry
        (`ManagedIvfIndex.cell_stats`, `ManagedTextIndex.bucket_stats`)
        and for maintenance planning generally.

        Returns ``{fragment: {"rows": int|None, "files": int,
        "holder": int}}``."""
        import os

        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        st = doc.get("stats", {})
        dvr = {k: int(n) for k, n in (doc.get("dv_rows") or {}).items()}
        fst = self._file_stats_for(doc) if m else {}
        rk = self._ROWS_KEY
        out: dict[str, dict] = {}
        for frag, hv in m.items():
            env = st.get(frag)
            rows = (
                int(env[rk]) - dvr.get(frag, 0)
                if env and rk in env
                else None
            )
            files = len(fst.get(frag, {}))
            if not files:
                d = os.path.join(self._data_dir(hv), frag)
                files = (
                    sum(n.endswith(".parquet") for n in os.listdir(d))
                    if os.path.isdir(d)
                    else 0
                )
            out[frag] = {"rows": rows, "files": files, "holder": hv}
        return out

    def _write_fstats_sidecar(
        self, vdir: str, file_stats: dict[str, dict[str, dict]]
    ) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rk = self._ROWS_KEY
        cols = sorted(
            {
                c
                for fdoc in file_stats.values()
                for envs in fdoc.values()
                for c in envs
                if c != rk
            }
        )
        rows: dict[str, list] = {"frag": [], "file": [], "nrows": []}
        for c in cols:
            rows[f"mn_{c}"] = []
            rows[f"mx_{c}"] = []
        for frag in sorted(file_stats):
            for fname in sorted(file_stats[frag]):
                envs = file_stats[frag][fname]
                rows["frag"].append(frag)
                rows["file"].append(fname)
                rows["nrows"].append(
                    int(envs[rk]) if rk in envs else None
                )
                for c in cols:
                    mn, mx = envs.get(c) or [None, None]
                    rows[f"mn_{c}"].append(mn)
                    rows[f"mx_{c}"].append(mx)
        pq.write_table(
            pa.table(rows),
            os.path.join(vdir, self._FSTATS_SIDECAR),
            # fragment-sorted row groups small enough that a
            # frag-filtered read skips the others on row-group stats
            row_group_size=4096,
        )

    def _read_fstats_sidecar(
        self, v: int, frags: Sequence[str] | None
    ) -> dict[str, dict[str, dict]]:
        import pyarrow.dataset as ds

        path = os.path.join(self._vdir_of(v), self._FSTATS_SIDECAR)
        if not os.path.exists(path):
            return {}
        dataset = ds.dataset(path, format="parquet")
        flt = (
            ds.field("frag").isin(list(frags))
            if frags is not None
            else None
        )
        tbl = dataset.to_table(filter=flt)
        rk = self._ROWS_KEY
        names = tbl.column_names
        cols = sorted(
            n[3:] for n in names if n.startswith("mn_")
        )
        out: dict[str, dict[str, dict]] = {}
        data = tbl.to_pydict()
        for i in range(tbl.num_rows):
            envs: dict = {}
            if data["nrows"][i] is not None:
                envs[rk] = int(data["nrows"][i])
            for c in cols:
                envs[c] = [data[f"mn_{c}"][i], data[f"mx_{c}"][i]]
            out.setdefault(data["frag"][i], {})[data["file"][i]] = envs
        return out

    def _file_stats_for(
        self, doc: dict, frags: Sequence[str] | None = None
    ) -> dict[str, dict[str, dict]]:
        """Per-FILE zone maps for ``frags`` (default: every fragment
        the doc covers), resolved through the doc's ``fstats_v``
        sidecar map — only the sidecars holding surviving fragments
        are opened, each with a fragment filter.  Docs from before the
        sidecar split may still carry inline ``file_stats``; honored
        as-is."""
        inline = doc.get("file_stats")
        if inline:
            if frags is None:
                return inline
            return {f: inline[f] for f in frags if f in inline}
        fsv = {
            f: int(v) for f, v in (doc.get("fstats_v") or {}).items()
        }
        want = list(fsv) if frags is None else [f for f in frags if f in fsv]
        by_v: dict[int, list[str]] = {}
        for f in want:
            by_v.setdefault(fsv[f], []).append(f)
        out: dict[str, dict[str, dict]] = {}
        for v, fl in sorted(by_v.items()):
            out.update(self._read_fstats_sidecar(v, fl))
        return out

    # -- per-version scan resolver ----------------------------------------
    # Every read — point reads, pruned reads, copy-on-write locates,
    # deletion-vector builds, view refreshes — resolves each holder
    # version it touches to one aligned scan (`_version_scan`) and
    # each deletion-vector holder to one filtered sidecar scan
    # (`_dv_scan`).  A published version's files never change, so
    # both frames are built once per handle and reused: a later read
    # plans only what it puts on top of them, not the reader, the
    # address columns and the alignment Project again.  A memo key
    # holds the version, its commit stamp (a rollback followed by a
    # re-commit of the same number is a different commit, so it
    # misses), the sorted path or fragment set, ``with_pos`` and the
    # declared schema and defaults the scan was aligned to.  Versions
    # without ``_SUCCESS`` (a commit scanning its own files) or
    # without a stamp are never memoized, and each read of the latest
    # manifest drops the entries of versions it no longer references
    # (`_retain_scans`), so the memo holds one snapshot's holder set
    # (plus whatever time-travel reads touched since).  Reads run
    # concurrently on driver threads (the bloom point-read probes), so
    # the memo is only touched under ``_scan_lock``.
    _DV_SCHEMA = "frag string, rel string, row_index bigint"

    def _holder_manifest(self, v: int) -> tuple[list | None, str | None]:
        """``(schema, commit)`` from version ``v``'s OWN manifest, read
        raw from its (clone-resolved) version dir: the ``schema`` entry
        (None when unavailable) and the serialized ``commit`` stamp,
        which is None unless ``v`` is published and stamped — the
        identity a memoized scan of ``v`` is keyed by.  Deliberately
        NOT `_manifest_doc`: holder versions are routinely
        vacuum-demoted (no longer readable snapshots) or borrowed
        through a shallow clone's base map, and both are refused there;
        for schema purposes the holder's manifest is authoritative
        whenever the file still exists, because it records exactly the
        frame that commit wrote — the schema of every data file under
        that version dir."""
        import json

        vdir = self._vdir_of(v)
        # `_SUCCESS` first: once it exists the manifest is final
        published = os.path.exists(os.path.join(vdir, "_SUCCESS"))
        try:
            with open(os.path.join(vdir, "manifest.json")) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            return None, None
        stamp = doc.get("commit")
        commit = (
            json.dumps(stamp, sort_keys=True)
            if published and stamp
            else None
        )
        return doc.get("schema"), commit

    def _memoized(self, key: tuple, build) -> DataFrame:
        """The frame memoized under ``key`` (``(kind, version, commit,
        ...)``), built by ``build`` on a miss; a key without a commit
        identity is built every time and never stored."""
        if key[2] is None:
            return build()
        with self._scan_lock:
            hit = self._scan_memo.get(key)
        if hit is not None:
            return hit
        df = build()  # outside the lock: planning makes py4j calls
        with self._scan_lock:
            return self._scan_memo.setdefault(key, df)

    def _retain_scans(self, doc: dict) -> None:
        """Drop memoized scans of versions the latest manifest ``doc``
        no longer references as a data or deletion-vector holder."""
        live = {
            int(v) for v in (doc.get("partitions") or {}).values()
        } | set(self._dv_map(doc).values())
        with self._scan_lock:
            for key in [k for k in self._scan_memo if k[1] not in live]:
                del self._scan_memo[key]

    def _version_scan(
        self, v: int, paths: list[str], with_pos: bool, align: dict | None
    ) -> DataFrame:
        """One holder-version scan of ``paths``, aligned to ``align``'s
        declared schema (see `_align_schema`); memoized (see above).
        ``with_pos`` appends the DV row address (``__rel``, ``__ri``)
        from the scan's metadata column (it must be derived BEFORE any
        union — ``_metadata`` only resolves on the file-scan relation).

        The reader gets version ``v``'s MANIFEST schema explicitly
        instead of inferring one: every data file under a version dir
        was written by the single commit that created it, and that
        commit recorded exactly the frame it wrote (``doc["schema"]``,
        partition columns included — the reader resolves those from
        the directory names and casts them to the declared type, which
        is the same value the inference+align path produced).  This
        skips the footer-read schema-inference job Spark otherwise
        runs per ``spark.read.parquet`` call — measured r15: the
        commit paths build 6-12 fragment scans per storage query at
        ~0.1-0.2 s each, most of it this inference.  Legacy docs
        without a recorded schema keep the inference path."""
        import json

        schema, commit = self._holder_manifest(v)
        paths = sorted(paths)
        sch = (align or {}).get("schema")
        aligned_to = (
            json.dumps([sch, align.get("defaults") or {}], sort_keys=True)
            if sch
            else None
        )

        def build() -> DataFrame:
            df = self._reader(v, schema).parquet(*paths)
            if with_pos:
                df = df.select(
                    "*",
                    F.regexp_extract(
                        F.col("_metadata.file_path"), self._DV_REL, 1
                    ).alias("__rel"),
                    F.col("_metadata.row_index").alias("__ri"),
                )
            return self._align_schema(df, align)

        return self._memoized(
            ("scan", v, commit, tuple(paths), with_pos, aligned_to), build
        )

    def _dv_scan(self, v: int, frags: list[str]) -> DataFrame:
        """Deletion-vector holder ``v``'s sidecar, filtered to
        ``frags``, read with its fixed schema (no inference job);
        memoized like `_version_scan`."""
        frags = sorted(frags)
        return self._memoized(
            ("dv", v, self._holder_manifest(v)[1], tuple(frags)),
            lambda: self.spark.read.schema(self._DV_SCHEMA)
            .parquet(self._dv_dir(v))
            .filter(F.col("frag").isin(frags)),
        )

    def _read_dv(self, dv_map: dict[str, int]) -> DataFrame | None:
        """The doomed-row table for ``dv_map`` (fragment → dv holder
        version): columns (frag, rel, row_index), one scan per holder
        version filtered to the fragments it currently serves."""
        by_version: dict[int, list[str]] = {}
        for frag, v in dv_map.items():
            by_version.setdefault(v, []).append(frag)
        out = None
        for v, frags in sorted(by_version.items()):
            df = self._dv_scan(v, frags)
            out = df if out is None else out.unionByName(df)
        return out

    def _scan_entries_dv(
        self,
        entries: list[tuple[str, int, str]],
        dv: dict[str, int],
        align: dict | None = None,
        keep_pos: bool = False,
    ) -> DataFrame | None:
        """Scan ``entries`` = [(fragment, holder version, path)] — the
        one union every read path goes through: one `_version_scan` per
        holder version, versions unioned by name so schema may evolve
        across commits.  The merge-on-read tax applies ONLY to vectored
        fragments' paths: clean fragments scan without address columns
        and never enter the anti-join against ``dv`` (fragment → dv
        holder version), so the tax tracks the vectored data, not the
        read.  ``keep_pos`` scans every entry with its address columns
        and keeps them on the result (the DV build path needs them).
        No broadcast hint on the anti-join: vectors are tiny by design
        (DV deletes are the small-scattered-erasure path; mass deletes
        belong to copy-on-write `delete`), so AQE broadcasts them, but
        a pathologically large vector must degrade to a shuffle join
        rather than OOM the driver.

        ``align``: manifest doc whose declared schema each PER-VERSION
        scan is aligned to BEFORE any union — alignment must happen at
        this level because the union's own missing-column handling
        NULL-fills, which would override a declared initial default."""
        frags = {frag for frag, _v, _p in entries}
        dv = {f: v for f, v in dv.items() if f in frags}
        clean: dict[int, list[str]] = {}
        vectored: dict[int, list[str]] = {}
        for frag, v, path in entries:
            tgt = vectored if (frag in dv or keep_pos) else clean
            tgt.setdefault(v, []).append(path)

        def union(by_version, with_pos):
            out = None
            for v, paths in sorted(by_version.items()):
                df = self._version_scan(v, paths, with_pos, align)
                out = (
                    df
                    if out is None
                    else out.unionByName(df, allowMissingColumns=True)
                )
            return out

        plain = union(clean, False)
        tagged = union(vectored, True)
        if tagged is not None and dv:
            doomed = self._read_dv(dv).select(
                F.col("rel").alias("__rel"),
                F.col("row_index").alias("__ri"),
            )
            tagged = tagged.join(doomed, ["__rel", "__ri"], "left_anti")
        if tagged is not None and not keep_pos:
            tagged = tagged.drop("__rel", "__ri")
        if plain is None:
            return tagged
        if tagged is None:
            return plain
        return plain.unionByName(tagged, allowMissingColumns=True)

    def _reader(self, v: int, schema: list | None):
        """Parquet reader rooted at version ``v``'s data dir, given the
        schema ([name, DDL type] pairs) that version's commit records
        when there is one, so no scan built from it runs a
        schema-inference job.  A commit scanning its own new files
        passes the schema it is about to record (its manifest is not
        on disk yet)."""
        reader = self.spark.read.option("basePath", self._data_dir(v))
        if schema:
            reader = reader.schema(
                ", ".join(f"`{n}` {t}" for n, t in schema)
            )
        return reader

    # -- bloom filters (per-file equality skipping) -----------------------
    # Zone maps prune RANGES; they are blind to equality probes on a
    # high-cardinality column whose values round-robin across files
    # (every file's [min, max] spans the domain).  Per-file bloom
    # bitsets close that gap — Delta's bloom filter index — letting a
    # point lookup on a non-partition, non-clustered key open ~1 file
    # instead of every file in the fragment.  Hashing is double-hash-
    # free: position_i = pmod(xxhash64(cast(col as string), i), m),
    # computed by the ENGINE on both the build and the probe side (the
    # probe evaluates the same expression over a 1-row frame), so there
    # is no cross-language hash-compatibility trap.  NULLs are never
    # added and cannot be probed (use IS NULL scans for that).
    _BLOOM_DOC = "blooms.json"  # legacy monolithic doc (read-only)
    _BLOOM_SIDECAR = "blooms.parquet"

    def _compute_blooms(self, new_v: int, schema: list | None) -> dict:
        """Bloom sidecar content for the files just written under
        ``new_v`` (recorded ``schema``, see `_reader`):
        {fragment → {file → {col → {"m", "k", "bits"}}}}.
        One engine-side job, fully distributed: per row, k candidate
        bit positions per bloom column, folded straight into 4 KiB
        bitmap chunks by the JVM's ``bitmap_construct_agg`` per (file,
        column, 32768-bit bucket) — Spark's native bitmap aggregate
        lays bit p at byte p>>3, mask 1<<(p&7), exactly the sidecar's
        probe layout, so the driver just concatenates bucket blobs.
        The shuffle carries at most ceil(m/32768) 4 KiB rows per
        (file, column) — same total bytes as the final bitsets — and
        there is no Python-worker hop at all (the previous shape
        aggregated 64-bit words with ``bit_or`` and assembled them in
        an ``applyInPandas``: one more exchange plus an Arrow round
        trip, measured ~3x slower at 120 files).  The chunk collapse
        is load-bearing at scale: a position-set collect blew the
        driver at 100M rows."""
        if not self.bloom_cols:
            return {}
        data_dir = self._data_dir(new_v)
        has_files = any(
            name.endswith(".parquet")
            for _dir, _subdirs, names in os.walk(data_dir)
            for name in names
        )
        if not has_files:
            return {}
        df = self._reader(new_v, schema).parquet(data_dir)
        present = [c for c in self.bloom_cols if c in df.columns]
        if not present:
            return {}
        m, k = self.bloom_bits, self.bloom_k
        nbytes = (m + 7) // 8
        entries = []
        for c in present:
            qc = f"`{c}`"
            for i in range(k):
                pos = f"pmod(xxhash64(cast({qc} as string), {i}), {m})"
                entries.append(
                    F.expr(
                        "CASE WHEN cast({qc} as string) IS NOT NULL THEN "
                        "named_struct("
                        "'c', '{c}', "
                        "'p', CAST({pos} AS LONG)"
                        ") END".format(qc=qc, c=c, pos=pos)
                    )
                )
        # staging column names must not collide with the table's OWN
        # partition columns (a `__c`-partitioned table — the managed
        # ANN index — met a `__c` staging alias here and every bloomed
        # commit died AMBIGUOUS_REFERENCE)
        taken = set(self.partition_by)

        def _stage(base: str) -> str:
            name = base
            while name in taken:
                name += "_"
            taken.add(name)
            return name

        s_fp = _stage("__bf_fp")
        s_col = _stage("__bf_col")
        s_w = _stage("__bf_w")
        s_b = _stage("__bf_b")
        # bitmap_bucket_number / bitmap_bit_position address bit v-1 of
        # a 1-based value stream in 32768-bit (4 KiB) buckets, and
        # bitmap_construct_agg's binary lays bit i at byte i>>3, mask
        # 1<<(i&7) — the sidecar's exact probe layout — so position p
        # maps via v = p + 1 and bucket blobs concatenate byte-for-byte
        # into the same bitsets the word/applyInPandas path produced
        buckets = (
            df.select(
                F.col("_metadata.file_path").alias(s_fp),
                *self.partition_by,
                F.explode(F.array(*entries)).alias("e"),
            )
            .filter(F.col("e.c").isNotNull())
            .groupBy(
                s_fp,
                *self.partition_by,
                F.col("e.c").alias(s_col),
                F.expr("bitmap_bucket_number(e.p + 1)").alias(s_w),
            )
            .agg(
                F.expr(
                    "bitmap_construct_agg(bitmap_bit_position(e.p + 1))"
                ).alias(s_b)
            )
        )
        out: dict[str, dict[str, dict[str, dict]]] = {}
        # ceil(m/32768) rows of 4 KiB per (file, bloom column) — same
        # driver-side payload as the finished bitsets
        for r in buckets.collect():
            d = r.asDict()
            frag = self._part_key([d[c] for c in self.partition_by])
            fname = os.path.basename(d[s_fp])
            entry = (
                out.setdefault(frag, {})
                .setdefault(fname, {})
                .setdefault(
                    d[s_col],
                    {"m": m, "k": k, "bits": bytearray(nbytes)},
                )
            )
            off = (int(d[s_w]) - 1) * 4096
            blob = bytes(d[s_b])
            take = min(len(blob), nbytes - off)
            if take > 0:
                entry["bits"][off : off + take] = blob[:take]
        for bdoc in out.values():
            for fentry in bdoc.values():
                for e in fentry.values():
                    e["bits"] = bytes(e["bits"])
        return out

    def _write_blooms(self, new_v: int, vdir: str, schema: list) -> None:
        """Write the version's bloom sidecar (no-op without bloom_cols
        or data files) as PARQUET rows (frag, file, col, m, k, bits) —
        fragment-filterable, so a point probe reads only the surviving
        fragments' bitsets instead of parsing a monolithic JSON doc
        (the 10^5-file metadata bottleneck, VERDICT r10 item 5).
        Sidecars live NEXT TO the files they describe and are resolved
        through the manifest's fragment→holder map, so inherited
        fragments reuse the holder's sidecar by reference — nothing is
        copied forward on unrelated commits, and vacuum's holder
        demotion keeps sidecars alive exactly as long as the files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        blooms = self._compute_blooms(new_v, schema)
        if not blooms:
            return
        rows: dict[str, list] = {
            "frag": [], "file": [], "col": [], "m": [], "k": [],
            "bits": [],
        }
        for frag in sorted(blooms):
            for fname in sorted(blooms[frag]):
                for c, e in sorted(blooms[frag][fname].items()):
                    rows["frag"].append(frag)
                    rows["file"].append(fname)
                    rows["col"].append(c)
                    rows["m"].append(int(e["m"]))
                    rows["k"].append(int(e["k"]))
                    rows["bits"].append(e["bits"])
        pq.write_table(
            pa.table(rows),
            os.path.join(vdir, self._BLOOM_SIDECAR),
            row_group_size=1024,
        )

    def _bloom_frags(
        self, v: int, frags: Sequence[str]
    ) -> dict[str, dict]:
        """{fragment → {file → {col → entry}}} for the REQUESTED
        fragments of one holder version: a fragment-filtered pyarrow
        read of the parquet sidecar, cached per (version, fragment) —
        version dirs are immutable once committed.  Falls back to the
        legacy monolithic ``blooms.json`` when present; {} entries for
        versions predating bloom_cols."""
        out: dict[str, dict] = {}
        missing: list[str] = []
        for f in frags:
            e = self._bloom_cache.get((v, f))
            if e is None:
                missing.append(f)
            else:
                out[f] = e
        if not missing:
            return out
        fetched: dict[str, dict] = {f: {} for f in missing}
        path = os.path.join(self._vdir_of(v), self._BLOOM_SIDECAR)
        legacy = os.path.join(self._vdir_of(v), self._BLOOM_DOC)
        if os.path.exists(path):
            import pyarrow.dataset as ds

            tbl = ds.dataset(path, format="parquet").to_table(
                filter=ds.field("frag").isin(missing)
            )
            d = tbl.to_pydict()
            for i in range(tbl.num_rows):
                fetched[d["frag"][i]].setdefault(d["file"][i], {})[
                    d["col"][i]
                ] = {
                    "m": int(d["m"][i]),
                    "k": int(d["k"][i]),
                    "bits": d["bits"][i],
                }
        elif os.path.exists(legacy):
            import json

            with open(legacy) as fh:
                doc = json.load(fh)
            for f in missing:
                fetched[f] = doc.get(f, {})
        for f, e in fetched.items():
            self._bloom_cache[(v, f)] = e
            out[f] = e
        # bitsets can be KB-to-MB each; a long-lived reader (streaming
        # relay, serving process) must not accrete them without bound
        while len(self._bloom_cache) > 512:
            self._bloom_cache.pop(next(iter(self._bloom_cache)))
        return out

    def _probe_positions(
        self,
        shapes: set[tuple[str, int, int]],
        values: dict[str, object],
        col_types: dict[str, str],
    ) -> dict[tuple[str, int, int], list[int]]:
        """Candidate bit positions for every (col, m, k) bitset shape in
        play, computed BY THE ENGINE over a 1-row frame with the exact
        build-side expression (same cast, same hash) — one tiny job for
        the whole read.  The probe literal is first cast to the
        COLUMN's type: the build side hashed
        cast(<col as its native type> as string), so probing an int
        literal against a double column must hash "7.0", not "7" — a
        type-mismatched probe would otherwise be a bloom FALSE NEGATIVE
        (silently missing rows the exact predicate matches)."""
        if not shapes:
            return {}
        exprs, order = [], []
        for idx, (c, m, k) in enumerate(sorted(shapes)):
            lit = F.lit(values[c])
            if c in col_types:
                lit = lit.cast(col_types[c])
            s = lit.cast("string")
            for i in range(k):
                exprs.append(
                    F.pmod(F.xxhash64(s, F.lit(i)), F.lit(m)).alias(
                        f"p_{idx}_{i}"
                    )
                )
            order.append((c, m, k))
        row = self.spark.range(1).select(*exprs).first()
        out = {}
        for idx, shape in enumerate(order):
            _c, _m, k = shape
            out[shape] = [int(row[f"p_{idx}_{i}"]) for i in range(k)]
        return out

    @staticmethod
    def _bloom_may_contain(entry: dict, positions: list[int]) -> bool:
        bits = entry.get("bits")
        if bits is None:  # legacy JSON sidecar entry
            import base64

            bits = base64.b64decode(entry["b64"])
        return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)

    def read_where_eq(
        self, pairs: Sequence[tuple], version: int | None = None
    ) -> tuple[DataFrame | None, int, int, int, int]:
        """Equality point read over a CONJUNCTION of (col, value)
        pairs, with THREE tiers of metadata skipping: (1) fragment
        zone-map envelopes (an equality is the degenerate range
        [v, v]); (2) per-file zone-map envelopes; (3) per-file bloom
        bitsets — the tier that actually bites when the probed column
        is high-cardinality and unclustered, where every file's
        envelope spans the domain and tiers 1-2 keep everything.
        Anything without recorded metadata is kept conservatively, and
        the exact equality predicate is applied to the survivors —
        bloom false positives cost a scan, never a wrong row.  NULL
        probe values are refused (SQL `= NULL` matches nothing; bloom
        bitsets never index NULLs).  Returns the same counter shape as
        `read_where_all`: ``(frame, fragments_kept, fragments_total,
        files_kept, files_total)``."""
        pairs = [(c, v) for c, v in pairs]
        if not pairs:
            raise ValueError("read_where_eq needs at least one pair")
        if any(v is None for _c, v in pairs):
            raise ValueError("cannot probe NULL (= NULL matches nothing)")
        values = dict(pairs)
        conds = [(c, v, v) for c, v in pairs]
        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        if not m:
            return None, 0, 0, 0, 0
        st = doc.get("stats", {})
        keep = {
            f: hv
            for f, hv in m.items()
            if self._envelopes_intersect(st.get(f), conds)
        }
        pred = None
        for c, v in pairs:
            e = F.col(c) == F.lit(v)
            pred = e if pred is None else pred & e
        fst = self._file_stats_for(doc, list(keep))
        # one engine probe job for all bitset shapes seen in sidecars;
        # sidecars resolved GROUPED BY HOLDER VERSION, each opened with
        # a filter on the SURVIVING fragments only — probe metadata
        # cost tracks what tier 1 kept, not the table's file count
        shapes: set[tuple[str, int, int]] = set()
        frag_blooms: dict[str, dict] = {}
        by_hv: dict[int, list[str]] = {}
        for frag, hv in keep.items():
            by_hv.setdefault(hv, []).append(frag)
        for hv, fl in sorted(by_hv.items()):
            frag_blooms.update(self._bloom_frags(hv, fl))
        for bdoc in frag_blooms.values():
            for fentry in bdoc.values():
                for c, _v in pairs:
                    be = fentry.get(c)
                    if be:
                        shapes.add((c, int(be["m"]), int(be["k"])))
        col_types: dict[str, str] = {}
        if shapes:
            # probe literals must be cast to the columns' native types:
            # the declared manifest schema when recorded (zero reads),
            # else one surviving fragment's footer — never a plan over
            # every fragment (that alone scaled with table size)
            sch = doc.get("schema")
            if sch:
                col_types = {n: t for n, t in sch}
            else:
                one = dict(sorted(keep.items())[:1])
                col_types = dict(self._read_fragments(one).dtypes)
        probes = self._probe_positions(shapes, values, col_types)
        files_total = files_kept = 0
        entries: list[tuple[str, int, str]] = []
        for frag, hv in sorted(keep.items()):
            frag_dir = os.path.join(self._data_dir(hv), frag)
            fdoc = fst.get(frag) or {}
            bdoc = frag_blooms[frag]
            names = sorted(fdoc) if fdoc else sorted(
                n for n in os.listdir(frag_dir) if n.endswith(".parquet")
            )
            for fname in names:
                files_total += 1
                envs = fdoc.get(fname)
                if envs is not None and not self._envelopes_intersect(
                    envs, conds
                ):
                    continue
                fb = bdoc.get(fname)
                if fb and not all(
                    self._bloom_may_contain(
                        fb[c], probes[(c, int(fb[c]["m"]), int(fb[c]["k"]))]
                    )
                    for c, _v in pairs
                    if fb.get(c)
                ):
                    continue
                files_kept += 1
                entries.append(
                    (frag, hv, os.path.join(frag_dir, fname))
                )
        if not entries:
            return (
                self._empty_read(doc, m),
                len(keep),
                len(m),
                0,
                files_total,
            )
        dv = {f: v for f, v in self._dv_map(doc).items() if f in keep}
        out = self._scan_entries_dv(entries, dv, align=doc)
        return out.filter(pred), len(keep), len(m), files_kept, files_total

    # -- bloom-bounded key location (delete under stable_partitions) ------
    # A keyed DELETE on a table whose partitions are NOT derivable from
    # the key (stable_partitions=True — the ANN index shape, partition
    # = quantizer cell) must first LOCATE the keys.  The generic path
    # is a column-pruned semi-join scan of every fragment; when the
    # erasure batch is small and a key column carries bloom sidecars,
    # the candidate set comes from metadata alone: probe every file's
    # bitset for every key value (numpy over the collected bitsets) and
    # keep the fragments with a possible hit.  False positives cost a
    # needless fragment rewrite, never a wrong row; anything without
    # bloom metadata is kept conservatively.
    _BLOOM_LOCATE_MAX_KEYS = 1024

    def _bloom_locate_fragments(
        self, keys: DataFrame, prev_doc: dict, prev: dict[str, int]
    ) -> set[str] | None:
        """Fragments that MAY hold any key of ``keys``, from bloom
        sidecars alone — or None when the fast path does not apply
        (no bloomed key column, batch too large, no bloom metadata
        anywhere) and the caller should fall back to the locate scan.
        ``keys`` must already be projected to ``self.keys``."""
        import numpy as np

        cols = [c for c in self.keys if c in self.bloom_cols]
        if not cols:
            return None
        c = cols[0]  # one probed column bounds the candidate set
        head = (
            keys.select(c)
            .distinct()
            .limit(self._BLOOM_LOCATE_MAX_KEYS + 1)
            .collect()
        )
        if len(head) > self._BLOOM_LOCATE_MAX_KEYS or any(
            r[0] is None for r in head
        ):
            return None  # big batch (scan amortizes better) or NULL key
        by_hv: dict[int, list[str]] = {}
        for frag, hv in prev.items():
            by_hv.setdefault(hv, []).append(frag)
        frag_blooms: dict[str, dict] = {}
        for hv, fl in sorted(by_hv.items()):
            frag_blooms.update(self._bloom_frags(hv, fl))
        shapes: set[tuple[int, int]] = set()
        for bdoc in frag_blooms.values():
            for fentry in bdoc.values():
                be = fentry.get(c)
                if be:
                    shapes.add((int(be["m"]), int(be["k"])))
        if not shapes:
            return None  # no bloom metadata: pruning would keep all
        # engine-side candidate positions for every (value, shape) in
        # ONE tiny job over the distinct values — the same cast + hash
        # expression as the build side (see _probe_positions).  The
        # probe MUST cast to the column's declared type first (the
        # build hashed the column's native rendering — probing int 7
        # against a double column must hash "7.0"); without a declared
        # schema a mistyped probe would be a bloom FALSE NEGATIVE (a
        # silently missed delete), so fall back to the exact scan.
        col_type = dict(prev_doc.get("schema") or []).get(c)
        if col_type is None:
            return None
        s = F.col("__v").cast(col_type).cast("string")
        shape_list = sorted(shapes)
        rows = (
            keys.select(F.col(c).alias("__v"))
            .distinct()
            .select(
                *(
                    F.array(
                        *(
                            F.pmod(F.xxhash64(s, F.lit(i)), F.lit(m))
                            for i in range(k)
                        )
                    ).alias(f"p_{si}")
                    for si, (m, k) in enumerate(shape_list)
                )
            )
            .collect()
        )
        pos = {
            shape: np.asarray(
                [[int(p) for p in r[f"p_{si}"]] for r in rows],
                dtype=np.int64,
            )
            for si, shape in enumerate(shape_list)
        }
        fst = self._file_stats_for(prev_doc, list(prev))
        out: set[str] = set()
        for frag in prev:
            bdoc = frag_blooms.get(frag) or {}
            fdoc = fst.get(frag)
            names = set(fdoc or ()) | set(bdoc)
            if not names:
                out.add(frag)  # no metadata at all: conservative
                continue
            for fname in names:
                be = (bdoc.get(fname) or {}).get(c)
                if be is None:
                    out.add(frag)  # un-bloomed file: conservative
                    break
                bits = be.get("bits")
                if bits is None:  # legacy JSON sidecar entry
                    import base64

                    bits = base64.b64decode(be["b64"])
                arr = np.frombuffer(bytes(bits), dtype=np.uint8)
                p = pos[(int(be["m"]), int(be["k"]))]
                hit = (arr[p >> 3] >> (p & 7)) & 1
                if bool(hit.all(axis=1).any()):
                    out.add(frag)
                    break
        return out

    def _locate_key_fragments(
        self, keys: DataFrame, prev_doc: dict, prev: dict[str, int]
    ) -> set[str]:
        """Where do these keys live?  Bloom fast path when available
        (metadata-only — the 100 TB erasure shape), else one
        column-pruned semi-join scan.  ``keys`` must already be
        projected to ``self.keys`` and deduplicated."""
        frags = self._bloom_locate_fragments(keys, prev_doc, prev)
        if frags is not None:
            return frags
        scan_cols = sorted(set(self.keys) | set(self.partition_by))
        located = (
            self._read_fragments(prev, dv=self._dv_map(prev_doc))
            .select(*scan_cols)
            .join(keys, on=self.keys, how="left_semi")
            .select(*self.partition_by)
            .distinct()
            .collect()
        )
        return {self._part_key(tuple(r)) for r in located}

    # -- metadata-only aggregates -----------------------------------------
    def count_rows(
        self, version: int | None = None
    ) -> tuple[int, int, int]:
        """Exact COUNT(*) of a snapshot served from manifest metadata —
        the Iceberg/Delta metadata-only scan: every stats commit records
        per-file row counts, so counting a 100 TB table costs one
        manifest read, zero data GETs.  Fragments committed before
        ``stats_cols`` was configured have no counts and are scanned
        (exactness is never traded for speed).  Returns ``(rows,
        fragments_from_metadata, fragments_scanned)``."""
        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        if not m:
            return 0, 0, 0
        # fragment tier only — COUNT(*) never opens a file-stats
        # sidecar (the fragment envelope's count is the exact sum of
        # its files' counts by construction)
        st = doc.get("stats", {})
        dv = self._dv_map(doc)
        dvr = {k: int(v) for k, v in (doc.get("dv_rows") or {}).items()}
        rk = self._ROWS_KEY
        total, meta, to_scan = 0, 0, {}
        for frag, hv in m.items():
            env = st.get(frag)
            if frag in dv and frag not in dvr:
                # a vector with no recorded cardinality (should not
                # happen — every DV commit records both) is scanned
                to_scan[frag] = hv
                continue
            if env and rk in env:
                total += int(env[rk]) - dvr.get(frag, 0)
                meta += 1
            else:
                to_scan[frag] = hv
        if to_scan:
            total += self._read_fragments(
                to_scan, dv={f: v for f, v in dv.items() if f in to_scan}
            ).count()
        return total, meta, len(to_scan)

    def metadata_min_max(
        self, col: str, version: int | None = None
    ) -> tuple[object, object, int, int]:
        """Exact MIN/MAX of a stats column served from the fragment
        zone maps (min of fragment-mins / max of fragment-maxes — exact
        because every envelope is the exact min/max of its files).  A
        recorded all-NULL envelope ([None, None]) contributes nothing,
        matching SQL MIN/MAX; fragments WITHOUT a recorded envelope are
        scanned.  Returns ``(min, max, fragments_from_metadata,
        fragments_scanned)``."""
        doc = self._manifest_doc(version)
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        if not m:
            return None, None, 0, 0
        st = doc.get("stats", {})
        dv = self._dv_map(doc)
        mn = mx = None
        meta, to_scan = 0, {}
        for frag, hv in m.items():
            fenv = st.get(frag)
            if fenv is None or col not in fenv or frag in dv:
                # a dv'd fragment's envelope is only a SUPERSET (the
                # row holding the recorded min/max may be deleted) —
                # sound for pruning, not for an exact answer: scan it
                to_scan[frag] = hv
                continue
            meta += 1
            lo, hi = fenv[col]
            if lo is not None and (mn is None or lo < mn):
                mn = lo
            if hi is not None and (mx is None or hi > mx):
                mx = hi
        if to_scan:
            r = (
                self._read_fragments(
                        to_scan,
                        dv={f: v for f, v in dv.items() if f in to_scan}, align=doc,)
                .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
                .first()
            )
            if r["mn"] is not None and (mn is None or r["mn"] < mn):
                mn = r["mn"]
            if r["mx"] is not None and (mx is None or r["mx"] > mx):
                mx = r["mx"]
        return mn, mx, meta, len(to_scan)

