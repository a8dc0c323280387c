"""Maintenance: OPTIMIZE/compaction (with Z-order clustering and partition evolution), rollback/RESTORE, stats backfill, DESCRIBE DETAIL, shallow clone, and retention vacuum.

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


__all__ = ["_ManifestMaintMixin"]


class _ManifestMaintMixin:
    # -- maintenance ----------------------------------------------------
    # Z-order bucketing resolution: 8 bits (256 rank buckets) per
    # cluster column.  With k columns the interleaved key is 8k bits —
    # fine for the long arithmetic up to the 4-column cap below.
    _Z_BITS = 8

    def _metadata_bounds(
        self, doc: dict, col: str
    ) -> tuple[float, float] | None:
        """[min, max] for ``col`` folded from the manifest's fragment
        envelopes — None unless EVERY live fragment recorded one.  For
        LAYOUT bounds a dv'd fragment's superset envelope is fine (it
        only widens buckets, never misplaces a row), unlike the exact
        `metadata_min_max` contract."""
        m = doc.get("partitions", {})
        st = doc.get("stats", {})
        mn = mx = None
        for frag in m:
            env = (st.get(frag) or {}).get(col)
            if env is None:
                return None
            lo, hi = env
            if lo is not None and (mn is None or lo < mn):
                mn = lo
            if hi is not None and (mx is None or hi > mx):
                mx = hi
        if mn is None or mx is None:
            return None
        return float(mn), float(mx)

    def _zorder_key(
        self,
        src: DataFrame,
        cols: Sequence[str],
        doc: dict,
        bucketing: str = "uniform",
    ) -> Column:
        """Engine-side Z-order (Morton) key over ``cols``: each column
        is quantized to 2^8 uniform-width buckets between its min and
        max (folded from the manifest's zone-map envelopes when every
        live fragment recorded one — zero data scan — else one bounds
        aggregate; arithmetic only, no window, no UDF), then the bucket
        bits are interleaved so no column dominates the sort.  Both
        halves are the shared layout primitives
        (`operators.layout.scaled_bucket` / `morton_interleave`).
        Sorting files by this key gives every cluster column locality
        at once: a predicate on ANY of them skips files via the
        per-file zone maps, where a linear (lexicographic) sort serves
        only its leading column.  NULLs bucket to 0 (NULLS FIRST);
        constant / all-NULL columns add no order.  Numeric columns
        only — uniform buckets need an arithmetic domain.

        ``bucketing="quantile"`` swaps the uniform-width grid for
        `operators.layout.quantile_bounds` / `quantile_bucket`
        (~equal-POPULATION buckets from a deterministic sample): on a
        skewed column the uniform grid collapses most rows into a few
        buckets — the Morton key then carries almost no information
        for that dimension and its file-skipping dies — while quantile
        buckets keep every z-cell comparably full.  Costs one bounded
        sample collect per column at layout time and a literal-array
        scan per row in the rewrite."""
        from .layout import (
            morton_interleave,
            quantile_bounds,
            quantile_bucket,
            scaled_bucket,
        )

        if bucketing not in ("uniform", "quantile"):
            raise ValueError(
                "bucketing must be 'uniform' or 'quantile', "
                f"got {bucketing!r}"
            )
        if not 1 <= len(cols) <= 4:
            raise ValueError("zorder takes 1-4 cluster columns")
        dtypes = dict(src.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint", "float",
                   "double", "decimal")
        for c in cols:
            dt = dtypes.get(c)
            if dt is None or not dt.startswith(numeric):
                raise ValueError(
                    f"zorder column {c!r} must be numeric, got {dt}"
                )
        if bucketing == "quantile":
            buckets = []
            for c in cols:
                qb = quantile_bounds(src, c, bits=self._Z_BITS)
                if not qb:
                    buckets.append(F.lit(0).cast("long"))
                    continue
                buckets.append(quantile_bucket(F.col(c), qb))
            return morton_interleave(buckets, self._Z_BITS)
        bounds: dict[str, tuple] = {}
        need_agg = []
        for c in cols:
            meta = self._metadata_bounds(doc, c)
            if meta is not None:
                bounds[c] = meta
            else:
                need_agg.append(c)
        if need_agg:
            r = src.agg(
                *[
                    F.min(c).cast("double").alias(f"mn_{c}")
                    for c in need_agg
                ],
                *[
                    F.max(c).cast("double").alias(f"mx_{c}")
                    for c in need_agg
                ],
            ).first()
            for c in need_agg:
                bounds[c] = (r[f"mn_{c}"], r[f"mx_{c}"])
        buckets = [
            scaled_bucket(F.col(c), *bounds[c], self._Z_BITS)
            for c in cols
        ]
        return morton_interleave(buckets, self._Z_BITS)

    def compact(
        self,
        cluster_by: Sequence[str] | None = None,
        cluster_files: int = 8,
        cluster_method: str = "linear",
        cluster_bucketing: str = "uniform",
        partition_by: Sequence[str] | None = None,
        generated_partitions: dict[str, str] | None = None,
    ) -> int:
        """Checkpoint commit: rewrite EVERY live partition under one new
        version so the latest manifest references a single holder.

        ``cluster_by``: OPTIMIZE-with-clustering — instead of one file
        per partition, range-partition the rewrite on (partition cols,
        cluster cols) across ``cluster_files`` tasks and sort within
        each, so a fragment's files own DISJOINT cluster-column ranges.
        ``cluster_method="zorder"`` interleaves the cluster columns'
        rank-bucket bits into one Morton key instead (Delta's OPTIMIZE
        ZORDER BY): the lexicographic sort serves only its LEADING
        column's predicates, the Z-order layout serves every cluster
        column at once — multi-dimensional file skipping from the same
        zone maps (see `_zorder_key`; ``cluster_bucketing="quantile"``
        swaps the uniform grid for sample-quantile buckets when a
        cluster column is skewed).
        Combined with the per-file zone maps every stats commit records,
        `read_where` then skips individual files inside a surviving
        fragment (Delta's OPTIMIZE ZORDER BY, for one key family), and
        the in-file sort tightens parquet row-group min/max for the
        scan that remains.  Still observationally the identity.

        Incremental commits scatter a snapshot's files across version
        dirs (each partition lives wherever it was last rewritten), so
        reads open one scan per holder version and vacuum() must demote
        and keep every still-referenced older dir.  Compaction collapses
        the scatter: after ``compact()`` the latest snapshot is entirely
        self-contained, a following ``vacuum()`` can reclaim every older
        dir (retention permitting), and reads resolve one version.  It
        is observationally a no-op — ``read()`` returns the same rows
        before and after — and doubles as small-file bin-packing: the
        rewrite repartitions on the partition columns, so each hive
        partition's accumulated files land in one shuffle task's output
        (at cluster scale a single huge partition would need
        ``repartition(n, cols)`` instead — this table's shape is the
        reference's many-small-daily-indexes layout, where one task per
        day is the right packing).  Schema evolved across commits is
        materialized to the unified (union-by-name) schema.

        Already-compact tables (every manifest entry already points at
        the latest version) return the current version without writing.
        This is the OPTIMIZE/checkpoint half of the Delta/Iceberg
        maintenance pair, next to ``vacuum()``'s retention half.

        ``partition_by``: PARTITION EVOLUTION — rewrite the snapshot
        under a NEW partition scheme (day → month buckets, or adding a
        generated partition column to a table that predates it)
        WITHOUT rewriting history: old snapshots keep their manifests
        and layouts (each version's reads resolve through its own
        fragment names, so ``read(version=…)`` / ``read_as_of`` cross
        the boundary transparently), and only this one full rewrite —
        which compaction pays anyway — carries the transition.
        ``generated_partitions`` (only with ``partition_by``) REPLACES
        the table's generated-column derivations for the new scheme; a
        new partition column absent from the data MUST have one (the
        rewrite derives it), and later writes derive/validate it
        exactly like a creation-time declaration.  Handles built with
        the old scheme are refused at their next commit
        (`_check_scheme`); this handle adopts the new scheme on
        success.  The new scheme must keep the pruned-commit invariant
        (partition columns inside the key, or stable_partitions).
        """
        if cluster_method not in ("linear", "zorder"):
            raise ValueError(
                "cluster_method must be 'linear' or 'zorder', "
                f"got {cluster_method!r}"
            )
        if cluster_method == "zorder" and not cluster_by:
            raise ValueError("zorder takes 1-4 cluster columns, got none")
        if generated_partitions is not None and partition_by is None:
            raise ValueError(
                "generated_partitions requires partition_by (it "
                "declares derivations FOR the new scheme)"
            )
        pb = list(partition_by) if partition_by else list(self.partition_by)
        # passing generated_partitions alone is still an evolution (it
        # replaces the derivation set for the — unchanged — scheme)
        evolving = (
            pb != list(self.partition_by) or generated_partitions is not None
        )
        if evolving and not pb:
            raise ValueError("partition_by must name at least one column")
        if evolving and not (
            self.stable_partitions or set(pb) <= set(self.keys)
        ):
            raise ValueError(
                "the new scheme must keep partition columns inside the "
                "key (or the table must be stable_partitions=True) — "
                "a key that moved partitions would leave its stale row "
                "behind in the old partition on later pruned commits"
            )
        if evolving:
            gen_map = dict(generated_partitions or {})
        else:
            gen_map = None  # carried verbatim by _carry_meta
        if gen_map is not None:
            bad_gen = sorted(set(gen_map) - set(pb))
            if bad_gen:
                raise ValueError(
                    f"generated_partitions must target new partition "
                    f"columns; {bad_gen} are not in {pb}"
                )
        if not self.versions():
            return 0
        with self._txn("compact") as tx:
            prev_doc, prev, new_v = tx.prev_doc, tx.prev, tx.version
            dv = self._dv_map(prev_doc)
            if not prev or (
                set(prev.values()) == {new_v - 1}
                and not cluster_by
                and not dv
                and not evolving
            ):
                # already single-holder; with cluster_by the rewrite is
                # a LAYOUT change, wanted even when no scatter exists —
                # and live deletion vectors always compact (this is the
                # explicit materialize-everything path)
                return tx.noop()
            src = self._read_fragments(prev, dv=dv, align=prev_doc)
            if evolving:
                for pc in pb:
                    if pc in src.columns:
                        if pc in gen_map:
                            raise ValueError(
                                f"generated partition column {pc!r} "
                                "already exists in the data — a new "
                                "derivation would be ambiguous against "
                                "stored values; pick a fresh name"
                            )
                        continue
                    if pc not in gen_map:
                        raise ValueError(
                            f"new partition column {pc!r} is not in the "
                            "data and has no generated_partitions "
                            "derivation"
                        )
                    src = src.withColumn(pc, F.expr(gen_map[pc]))
                # adopt the new scheme NOW: the write layout, fragment
                # walker, stats, and bloom builders below all render
                # through self.partition_by.  A failed evolution must
                # leave the handle on the OLD scheme (the table's latest
                # manifest still declares it)
                old = (self.partition_by, self.generated_partitions)

                def restore_scheme():
                    self.partition_by, self.generated_partitions = old

                tx.undo.append(restore_scheme)
                self.partition_by, self.generated_partitions = pb, dict(gen_map)
            if cluster_by and cluster_method == "zorder":
                if "__zkey" in src.columns:
                    raise ValueError(
                        "'__zkey' is reserved by zorder compaction; "
                        "rename the column"
                    )
                zkey = self._zorder_key(
                    src, list(cluster_by), prev_doc,
                    bucketing=cluster_bucketing,
                )
                lay = [
                    *[F.col(c) for c in self.partition_by],
                    F.col("__zkey"),
                ]
                out = (
                    src.withColumn("__zkey", zkey)
                    .repartitionByRange(cluster_files, *lay)
                    .sortWithinPartitions(*lay)
                    .drop("__zkey")
                )
            elif cluster_by:
                lay_cols = [
                    F.col(c) for c in (*self.partition_by, *cluster_by)
                ]
                out = src.repartitionByRange(
                    cluster_files, *lay_cols
                ).sortWithinPartitions(*lay_cols)
            else:
                # hash-distributed like the COW writes (see
                # _distribute_for_write): one task ~one partition, in
                # parallel, instead of an AQE-coalesced single task
                # writing every partition dir sequentially
                out = self._distribute_for_write(src, len(prev))
            out.write.partitionBy(*self.partition_by).parquet(
                self._data_dir(new_v)
            )
            # same commit soundness gate as upsert(): the manifest must
            # name exactly the dirs Spark wrote — a pure rewrite drops
            # no partition (merges never delete rows), so equality is
            # exact.  Under an evolving scheme the expectation comes
            # from the data itself (one column-pruned distinct over the
            # new partition columns, bounded by partition count — also
            # the NULL-partition-value gate, since _part_key refuses
            # NULLs that Spark would have written as a default dir).
            written = self._written_fragments(new_v)
            if evolving:
                expected = {
                    self._part_key([r[c] for c in pb], pb)
                    for r in src.select(*pb).distinct().collect()
                }
            else:
                expected = set(prev)
            if written != expected:
                raise ValueError(
                    "compaction rewrite diverged from the live manifest "
                    f"— written {sorted(written)} vs expected "
                    f"{sorted(expected)}"
                )
            doc = {
                "partition_by": list(pb),
                "partitions": {frag: new_v for frag in written},
            }
            self._carry_meta(doc, prev_doc, set(prev))
            # the full rewrite physically shed every dropped column's
            # bytes — names become safe to reuse
            doc.pop("dropped_columns", None)
            if evolving:
                # derivations are per-scheme; generated_partitions
                # REPLACES them for the new scheme (old ones reference
                # columns that may no longer partition the table)
                if gen_map:
                    doc["generated"] = dict(gen_map)
                else:
                    doc.pop("generated", None)
            doc["schema"] = self._frame_schema(out)
            # persist the clustering spec (Delta's table clustering
            # metadata): `maybe_compact` re-applies it so a streaming
            # sink's auto-OPTIMIZE keeps the Z-order/linear layout —
            # and the file skipping it pays for — instead of silently
            # bin-packing it away.  An explicit compact() call always
            # states its own layout: cluster_by=[...] replaces the
            # spec, a bare compact() clears it (the caller asked for
            # plain bin-packing).
            if cluster_by:
                doc["cluster"] = {
                    "by": list(cluster_by),
                    "files": int(cluster_files),
                    "method": cluster_method,
                    "bucketing": cluster_bucketing,
                }
            else:
                doc.pop("cluster", None)
            if self.stats_cols:
                # full rewrite: recompute every envelope, which also
                # backfills fragments committed before stats_cols was
                # set; the whole file tier lands in THIS version's
                # sidecar (and any inline legacy file_stats dies with
                # the rewrite)
                doc["stats"], new_ffs = self._compute_stats_both(
                    new_v, doc["schema"]
                )
                if new_ffs:
                    self._write_fstats_sidecar(tx.vdir, new_ffs)
                    doc["fstats_v"] = {f: new_v for f in new_ffs}
            self._write_blooms(new_v, tx.vdir, doc["schema"])
            return tx.stage_manifest(doc, set(prev))

    def maybe_compact(self, max_scatter: int) -> int | None:
        """Auto-OPTIMIZE policy for long-running sinks: compact when the
        live manifest references MORE than ``max_scatter`` distinct
        holder versions, else do nothing.  The check is one manifest
        read (bounded metadata, no data touched), so a streaming sink
        can afford it after every micro-batch commit; the compaction it
        occasionally triggers bounds read fan-out (scans per read ≤
        max_scatter + 1) and holder accumulation at any commit count.
        Re-applies the table's persisted clustering spec (recorded by
        the last ``compact(cluster_by=…)``), so auto-OPTIMIZE preserves
        the Z-order/linear layout — and the file skipping it pays for —
        instead of silently bin-packing it away.  Returns the new
        version when it compacted, else None."""
        if max_scatter < 1:
            raise ValueError("max_scatter must be >= 1")
        doc = self._manifest_doc()
        m = doc.get("partitions", {})
        if len(set(m.values())) > max_scatter:
            spec = doc.get("cluster") or {}
            return self.compact(
                cluster_by=spec.get("by"),
                cluster_files=int(spec.get("files", 8)),
                cluster_method=spec.get("method", "linear"),
                cluster_bucketing=spec.get("bucketing", "uniform"),
            )
        return None

    def rollback(self, version: int) -> None:
        """Drop snapshots newer than `version`, making it the latest.

        Refuses holder-only targets (their manifests may reference
        vacuumed versions — rolling back to one would wedge every later
        read/upsert with dangling fragment references) and, belt and
        braces, any target whose manifest names a version dir missing
        from disk.  Holder dirs the surviving snapshots no longer
        reference are swept so rollback cannot leak data dirs.

        Runs under a version claim that it never publishes: the claim
        keeps a concurrent writer from publishing a manifest that
        points at a version this rollback deletes (a live claim makes
        the rollback raise `CommitConflictError` instead)."""
        import shutil

        with self._txn("rollback") as tx:
            vs = self.versions()
            if version not in vs:
                if self._is_holder(version):
                    raise ValueError(
                        f"cannot roll back to version {version}: it is a "
                        "data holder, not a complete snapshot (its "
                        "manifest may reference vacuumed versions); "
                        f"readable snapshots: {vs}"
                    )
                raise ValueError(f"version {version} not in {vs}")
            tdoc = self._manifest_doc(version)
            needed = set(
                int(h) for h in tdoc.get("partitions", {}).values()
            ) | set(self._dv_map(tdoc).values())
            missing = {
                v
                for v in needed
                if not os.path.exists(
                    os.path.join(self._vdir_of(v), "_SUCCESS")
                )
            }
            if missing:
                raise ValueError(
                    f"cannot roll back to version {version}: its "
                    f"manifest references missing version dirs "
                    f"{sorted(missing)}"
                )
            for v in vs:
                if v > version:
                    shutil.rmtree(self._vdir(v), ignore_errors=True)
            self._sweep_unreferenced_holders()
            tx.noop()

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... VERSION AS OF`` — the
        history-PRESERVING undo: make ``version``'s state current
        again as a NEW commit whose manifest references the target
        snapshot's holders (and deletion vectors, schema, defaults,
        constraints) by reference — one metadata write, nothing
        deleted, nothing rewritten, so the bad commits stay auditable
        in `history()` and a later restore can even undo the undo.
        `rollback` is the destructive variant (drops the newer
        version dirs).  Refuses holder-only targets like
        `read(version=...)`, and any target whose referenced dirs a
        vacuum already removed.  Returns the committed version."""
        with self._txn("restore") as tx:
            tdoc = self._manifest_doc(version)  # validates readability
            needed = (
                {int(h) for h in tdoc.get("partitions", {}).values()}
                | set(self._dv_map(tdoc).values())
                | self._fstats_versions(tdoc)
            )
            missing = {
                v
                for v in needed
                if not os.path.exists(
                    os.path.join(self._vdir_of(v), "_SUCCESS")
                )
            }
            if missing:
                raise ValueError(
                    f"cannot restore version {version}: it references "
                    f"vacuumed version dirs {sorted(missing)}"
                )
            return tx.stage_manifest(dict(tdoc))

    def backfill_stats(self) -> int:
        """ANALYZE-style zone-map backfill: record fragment + file
        envelopes (and exact row counts) for every fragment that lacks
        them — typically fragments committed before ``stats_cols`` was
        configured — WITHOUT rewriting any data file: one
        column-pruned scan of the uncovered fragments and a
        metadata-only commit (every fragment inherited by reference).
        This is the cheap alternative to paying a full ``compact()``
        rewrite just to earn data skipping and metadata-only
        COUNT/MIN/MAX on old data.  A stats column absent from a
        fragment's files is recorded as an all-NULL envelope
        ([None, None]) — exactly what schema alignment makes those
        values read as — so coverage converges instead of re-scanning
        forever.  Counts are raw file counts (deletion vectors are
        subtracted downstream, same as write-path stats).  Returns the
        committed version — unchanged when nothing lacks coverage."""
        if not self.stats_cols:
            raise ValueError(
                "backfill_stats needs stats_cols configured on this "
                "handle (the columns to record envelopes for)"
            )
        rk = self._ROWS_KEY
        with self._txn("backfill_stats") as tx:
            prev_doc = tx.prev_doc
            st = prev_doc.get("stats", {})
            # file-tier coverage = an fstats_v sidecar entry OR inline
            # legacy file_stats (presence only — no sidecar is opened)
            covered_files = set(prev_doc.get("fstats_v") or {}) | set(
                prev_doc.get("file_stats") or {}
            )
            need = {
                f: v
                for f, v in tx.prev.items()
                if f not in st
                or f not in covered_files
                or rk not in st[f]
                or any(c not in st[f] for c in self.stats_cols)
            }
            if not need:
                return tx.noop()
            new_fs: dict = {}
            new_ffs: dict = {}
            by_v: dict[int, list[str]] = {}
            for f, v in need.items():
                by_v.setdefault(v, []).append(f)
            for v, frags in sorted(by_v.items()):
                df = self.spark.read.option(
                    "basePath", self._data_dir(v)
                ).parquet(
                    *sorted(
                        os.path.join(self._data_dir(v), f) for f in frags
                    )
                )
                fs, ffs = self._stats_over(df)
                new_fs.update(fs)
                new_ffs.update(ffs)
            # mark configured columns absent from the files as all-NULL
            # envelopes so coverage converges
            for f in need:
                for c in self.stats_cols:
                    new_fs.setdefault(f, {rk: 0}).setdefault(
                        c, [None, None]
                    )
                    for envs in new_ffs.get(f, {}).values():
                        envs.setdefault(c, [None, None])
            doc = dict(prev_doc)
            doc["stats"] = {**st, **new_fs}
            if new_ffs:
                # the backfilled file envelopes land in THIS commit's
                # sidecar; fstats_v points the covered fragments here
                # (their DATA holder is unchanged — stats holder and
                # data holder are independent, exactly like dv)
                self._write_fstats_sidecar(tx.vdir, new_ffs)
                doc["fstats_v"] = {
                    **(prev_doc.get("fstats_v") or {}),
                    **{f: tx.version for f in new_ffs},
                }
            return tx.stage_manifest(doc, set(need))

    def describe_detail(self) -> DataFrame:
        """Delta ``DESCRIBE DETAIL``: one metadata-only row describing
        the table — no data file is read (sizes come from filesystem
        listings of the current holders)."""
        import json

        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        vs = self.versions()
        doc = self._manifest_doc() if vs else {}
        m = {k: int(v) for k, v in doc.get("partitions", {}).items()}
        num_files = 0
        size_bytes = 0
        for frag, v in m.items():
            frag_dir = os.path.join(self._data_dir(v), frag)
            for name in os.listdir(frag_dir):
                if name.endswith(".parquet"):
                    num_files += 1
                    size_bytes += os.path.getsize(
                        os.path.join(frag_dir, name)
                    )
        dv_rows = sum(
            int(n) for n in (doc.get("dv_rows") or {}).values()
        )
        schema = StructType(
            [
                StructField("format", StringType(), False),
                StructField("location", StringType(), False),
                StructField("partition_columns", StringType(), False),
                StructField("current_version", IntegerType(), True),
                StructField("num_versions", IntegerType(), False),
                StructField("num_fragments", IntegerType(), False),
                StructField("num_files", IntegerType(), False),
                StructField("size_bytes", LongType(), False),
                StructField("dv_rows", LongType(), False),
                StructField("schema_json", StringType(), True),
                StructField("cloned_from", StringType(), True),
            ]
        )
        base = doc.get("base") or {}
        row = (
            "parquet+manifest",
            self.path,
            ",".join(self.partition_by),
            vs[-1] if vs else None,
            len(vs),
            len(m),
            num_files,
            size_bytes,
            dv_rows,
            json.dumps(doc.get("schema")) if doc.get("schema") else None,
            ",".join(sorted(set(base.values()))) or None,
        )
        return self.spark.createDataFrame([row], schema)

    def clone_to(self, dest_path: str) -> "ManifestSnapshotTable":
        """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): a
        new, independently writable table whose first snapshot
        references this table's CURRENT data files by path — zero data
        copied at any table size, so a 100 TB dev/test sandbox costs
        one manifest write.  The clone's manifest carries a ``base``
        map (version → origin table root); reads resolve inherited
        fragments (and their deletion vectors and bloom sidecars)
        through it, while every NEW commit writes locally and detaches
        the fragments it rewrites.  ``compact()`` on the clone rewrites
        everything locally — the explicit deep-copy materialization
        that severs the last base reference.

        The clone inherits the declared schema, defaults, persisted
        CHECK constraints, zone maps, and dv/bloom metadata of the
        source's current snapshot, and this handle's table
        configuration (keys/order/partitioning/stats/bloom/retention).
        Its local version sequence starts ABOVE every referenced
        source version, so local commits never collide with base
        entries.

        Caveat (exactly Delta's): the clone borrows the source's
        files — a source-side ``vacuum``/``rollback`` that deletes a
        referenced version breaks the clone.  Clones are sandboxes;
        sever with ``compact()`` before relying on one past the
        source's retention window."""
        import json

        src_doc = self._manifest_doc()
        if not src_doc:
            raise ValueError("cannot clone an empty table")
        if os.path.isdir(dest_path) and os.listdir(dest_path):
            raise ValueError(f"clone destination {dest_path!r} is not empty")
        referenced = (
            {int(h) for h in src_doc.get("partitions", {}).values()}
            | set(self._dv_map(src_doc).values())
            | self._fstats_versions(src_doc)
        )
        src_base = {
            int(k): v for k, v in (src_doc.get("base") or {}).items()
        }
        src_root = os.path.abspath(self.path)
        # chained clones resolve transitively: a version the source
        # itself borrowed keeps pointing at ITS origin
        base = {
            str(v): src_base.get(v, src_root) for v in referenced
        }
        dest = type(self)(
            self.spark,
            dest_path,
            keys=self.keys,
            order_cols=self.order_cols,
            partition_by=self.partition_by,
            stable_partitions=not (
                set(self.partition_by) <= set(self.keys)
            ),
            keep_versions=self.keep_versions,
            keep_seconds=self.keep_seconds,
            stats_cols=self.stats_cols or None,
            claim_ttl_seconds=self.claim_ttl_seconds,
            bloom_cols=self.bloom_cols or None,
            bloom_bits=self.bloom_bits,
            bloom_k=self.bloom_k,
        )
        clone_v = max(referenced, default=0) + 1
        vdir = dest._vdir(clone_v)
        os.makedirs(vdir)
        doc = dict(src_doc)
        doc["base"] = base
        doc["commit"] = self._commit_info("clone", set())
        with open(os.path.join(vdir, "manifest.json"), "w") as fh:
            json.dump(doc, fh, sort_keys=True)
        with open(os.path.join(vdir, "_SUCCESS"), "w"):
            pass
        return dest

    def _sweep_unreferenced_holders(self) -> None:
        """Delete holder-only dirs no remaining complete snapshot's
        manifest references."""
        import shutil

        referenced: set[int] = set()
        for v in self.versions():
            doc = self._manifest_doc(v)
            referenced.update(
                int(h) for h in doc.get("partitions", {}).values()
            )
            referenced.update(self._dv_map(doc).values())
            referenced.update(self._fstats_versions(doc))
        for v in self._committed_dirs():
            if self._is_holder(v) and v not in referenced:
                shutil.rmtree(self._vdir(v), ignore_errors=True)

    def vacuum(self) -> None:
        """Retain the UNION of both retention policies — the newest
        `keep_versions` complete snapshots, and (Delta's ``VACUUM ...
        RETAIN N HOURS``) every snapshot whose commit timestamp is
        younger than `keep_seconds` — always including the latest.
        Every older version dir still referenced by a retained
        manifest is DEMOTED to a data holder (`_HOLDER_ONLY` tombstone
        — its files survive for the manifests that inherit them, but
        it is no longer offered as a readable snapshot, because its
        own manifest may reference versions this vacuum deletes);
        everything else — including holders that have since become
        unreferenced — is deleted.  A snapshot without a recorded
        commit timestamp is kept under the time policy
        (conservative)."""
        import shutil
        import time

        if self.keep_versions is None and self.keep_seconds is None:
            return
        vs = self.versions()
        if not vs:
            return
        retained: set[int] = {vs[-1]}
        if self.keep_versions is not None:
            retained |= set(vs[-self.keep_versions:])
        if self.keep_seconds is not None:
            cut = time.time() - self.keep_seconds
            for v in vs:
                if v not in self._ts_cache:
                    info = self._manifest_doc(v).get("commit") or {}
                    raw = info.get("ts")
                    # sentinel keeps ts-less legacy commits from
                    # re-parsing their manifest every vacuum
                    self._ts_cache[v] = (
                        float(raw) if raw is not None else float("inf")
                    )
                if self._ts_cache[v] == float("inf") or (
                    self._ts_cache[v] >= cut
                ):
                    retained.add(v)
        referenced = set()
        for v in retained:
            doc = self._manifest_doc(v)
            referenced.update(
                int(h) for h in doc.get("partitions", {}).values()
            )
            # deletion-vector holders are live references too: a
            # fragment's current vector may be served by an older
            # version's dv/ dir — and so are file-stats sidecar
            # holders (a backfill commit's sidecar covers fragments
            # whose data lives elsewhere)
            referenced.update(self._dv_map(doc).values())
            referenced.update(self._fstats_versions(doc))
        for v in self._committed_dirs():
            if v in retained:
                continue
            if v in referenced:
                with open(
                    os.path.join(self._vdir(v), self._HOLDER_MARKER), "w"
                ):
                    pass
            else:
                shutil.rmtree(self._vdir(v), ignore_errors=True)
