"""Managed IVF ANN index: the materialized IVF layout with a LIFECYCLE.

Production corpora grow, re-embed, and must honor right-to-erasure, so
the cell layout is a `ManifestSnapshotTable` (partition column ``__c``
= the coarse-quantizer cell) rather than a one-shot write: the index
inherits the full storage lifecycle the text index already has via
streaming maintenance:

- **Incremental appends** are pruned MERGE commits: only the cells the
  batch lands in are rewritten, every other cell is inherited by
  reference in the manifest.  Append cost tracks the BATCH, not the
  corpus — the 100 TB contract.
- **Compaction** (`maybe_compact`) bounds small-file scatter per cell
  as drip appends accumulate, exactly like the text index's posting
  buckets.
- **DELETE** (right-to-erasure) removes vectors from the index through
  the manifest's keyed-delete path — no rebuild.
- **Probes** read ONLY the nprobe cell fragments via
  `ManifestSnapshotTable.read_partitions` (manifest-level partition
  pruning): per-query I/O is nprobe/n_cells of the files at any corpus
  size, and snapshot isolation means a probe never sees a half-applied
  append.

Reference parity: the reference delegates all retrieval to
Elasticsearch (README.md:26-27 — index + Kibana); this is the
vector-retrieval analogue built Spark-first, with FAISS's
IVF/IDMap-remove posture (sample-trained coarse quantizer, cell-
partitioned postings, delete-by-id) re-expressed as manifest commits.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import empty_frame, local_frame

from .similarity import (
    _sq_dist,
    cosine_topk,
    dot,
    double_array_sql,
    l2norm,
    nearest_clusters,
    pq_adc_tables,
    pq_encode,
    pq_subspace_offsets,
    with_cluster,
)
from .upsert import ManifestSnapshotTable

__all__ = [
    "ManagedIvfIndex",
    "ManagedPqIndex",
    "occupancy_summary",
]


def occupancy_summary(key_name: str, units: dict) -> dict:
    """Shared skew rollup over `partition_stats`-shaped units (IVF
    cells, term buckets): total/max/mean live rows plus ``skew`` =
    max/mean (1.0 = perfectly balanced; None when no unit has recorded
    counts)."""
    counted = [u["rows"] for u in units.values() if u["rows"] is not None]
    mean = (sum(counted) / len(counted)) if counted else None
    return {
        key_name: units,
        "rows_total": sum(counted) if counted else None,
        "rows_max": max(counted) if counted else None,
        "rows_mean": mean,
        "skew": (max(counted) / mean) if counted and mean else None,
    }


class ManagedIvfIndex:
    """IVF ANN index with manifest-backed incremental maintenance.

    The coarse quantizer (``centroids``) is trained ONCE offline
    (`train_ivf_centroids_sample` — bounded sample, one corpus scan)
    and is immutable for the index's lifetime: cell assignment must be
    a pure function of the vector, or historical cells would go stale.
    Re-training is a new index build (standard FAISS/ScaNN posture).

    Invariant of the pruned append (`upsert`): the manifest table
    prunes its MERGE to the batch's own cells, so an id that is
    RE-EMBEDDED into a different cell must go through
    ``upsert(reassign=True)`` (delete-then-insert, two commits) —
    plain ``upsert`` is for new ids and same-cell updates, where the
    single pruned commit suffices.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: list[list[float]],
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        keep_versions: int | None = None,
        bloom_ids: bool = True,
    ) -> None:
        self.centroids = [[float(x) for x in c] for c in centroids]
        self.vec_col = vec_col
        self.id_col = id_col
        # stable_partitions: cell = f(vector, frozen centroids) — an id
        # only moves cells if its VECTOR changes, which the reassign
        # path handles as delete+insert.  __seq (commit sequence) is
        # the order column: the latest write of an id wins the merge.
        # bloom_ids: per-file bloom bitsets over the id, so delete()'s
        # key location (stable_partitions = keys don't name their cell)
        # is metadata-only for erasure-sized batches instead of a scan
        # of every cell (`_locate_key_fragments` bloom fast path).
        # stats_cols=[id_col]: zone-map envelopes carry exact per-
        # fragment row counts (#rows), which makes `cell_stats` skew
        # telemetry and COUNT(*) metadata-only; maintained per touched
        # fragment, so the commit overhead tracks the batch.
        self.table = ManifestSnapshotTable(
            spark,
            path,
            keys=[id_col],
            order_cols=["__seq"],
            partition_by=["__c"],
            stable_partitions=True,
            keep_versions=keep_versions,
            stats_cols=[id_col],
            bloom_cols=[id_col] if bloom_ids else None,
        )

    # -- write path -----------------------------------------------------
    def _stamp(self, batch: DataFrame) -> DataFrame:
        # __seq must identify COMMIT ORDER, not the length of the
        # readable-version list: with keep_versions set, upsert()'s
        # vacuum trims versions() to a fixed length, so len()+1 would
        # saturate and stamp equal __seq on every later commit (leaving
        # latest-write-wins to the merge tie-break and making __seq
        # useless to readers).  Version numbers are claimed from the
        # max committed dir (holders included) and never regress, so
        # last-readable+1 is monotone across vacuum.
        vs = self.table.versions()
        seq = (vs[-1] + 1) if vs else 1
        return with_cluster(
            batch.select(
                F.col(self.id_col),
                F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
            ),
            self.vec_col,
            self.centroids,
        ).withColumn("__seq", F.lit(seq))

    def upsert(self, batch: DataFrame, reassign: bool = False) -> int:
        """Index an (id, vector) batch: stamp each row's cell with the
        frozen quantizer, then pruned-MERGE into the cell partitions.
        Only the batch's cells rewrite; with ``reassign`` the ids are
        first deleted wherever they currently live, so a re-embedded
        vector cannot leave a stale twin in its old cell."""
        if reassign and self.table.versions():
            self.table.delete(batch.select(self.id_col))
        return self.table.upsert(self._stamp(batch))

    def delete(self, ids: DataFrame) -> int:
        """Right-to-erasure: remove vectors by id (manifest keyed
        delete — rewrites only the fragments that hold the ids)."""
        return self.table.delete(ids.select(self.id_col))

    def maybe_compact(self, max_scatter: int = 8) -> int | None:
        """Bound per-cell small-file scatter after drip appends —
        delegates to the manifest table's scatter-triggered OPTIMIZE."""
        return self.table.maybe_compact(max_scatter)

    # -- probe path -----------------------------------------------------
    def probe_cells(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        """The nprobe cells nearest the query (driver-side: the
        centroid table is tiny)."""
        return nearest_clusters(
            self.centroids, [float(x) for x in query_vec], nprobe
        )

    def _id_type(self, version: int | None = None) -> str:
        """DDL type of the id column at a snapshot (for typed empty
        results).  Every upsert commit records the logical schema;
        'long' is the conservative fallback for pre-schema manifests."""
        sch = self.table.table_schema(version) or []
        for name, ddl in sch:
            if name == self.id_col:
                return ddl
        return "long"

    def probe(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        version: int | None = None,
    ) -> DataFrame:
        """ANN top-k: read ONLY the nprobe nearest cells' fragments
        from the (optionally time-traveled) snapshot, exact cosine
        top-k inside them.  The scan lists nprobe cell directories —
        per-query I/O independent of corpus size.

        A non-empty index whose probed cells hold no live vectors
        (erasure drained them, or an incremental build has not reached
        them yet) is a legitimate empty top-k, not an error — only a
        table with no live fragments at all raises."""
        cells = self.probe_cells(query_vec, nprobe)
        cand, _, total = self.table.read_partitions(
            [(c,) for c in cells], version=version
        )
        if cand is None:
            if total == 0:
                raise ValueError("index is empty — nothing to probe")
            return empty_frame(
                self.table.spark,
                f"{self.id_col} {self._id_type(version)}, cos_sim double",
            )
        return cosine_topk(
            cand.drop("__c", "__seq"),
            [float(x) for x in query_vec],
            k=k,
            vec_col=self.vec_col,
            id_col=self.id_col,
        )

    def knn_join(
        self,
        queries: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        q_id: str = "q_id",
        q_vec: str | None = None,
        version: int | None = None,
        broadcast_bytes: int = 10 << 20,
    ) -> DataFrame:
        """Batch k-NN JOIN through the index: every query row gets its
        top-k neighbors from the vectors in its nprobe nearest cells
        of the (optionally time-traveled via ``version``) snapshot.

        The per-query probe set is stamped ENGINE-side (the broadcast
        centroid table, an array_sort over (distance, idx) structs —
        ties to the lower cell, the `with_cluster` convention), then
        exploded to (query, cell) rows; the index side reads ONLY the
        union of probed cells (manifest partition pruning — across any
        batch that union is at most n_cells, so per-batch I/O is
        bounded by the index layout, never the corpus).  The equi-join
        on the cell is SIZE-GATED: when the exploded query side's
        estimated bytes (|queries| × nprobe × row width, dominated by
        the dim×8 vector payload) fit under ``broadcast_bytes``
        (default = Spark's 10 MB autoBroadcastJoinThreshold default),
        it is broadcast so index rows never shuffle; above the gate it
        falls back to a shuffled hash equi-join on ``__c`` — both
        sides exchange, but the index side is already cell-pruned, so
        the shuffle moves only probed-cell rows, never the corpus.
        Exact cosine + per-query top-k window inside the matched
        cells.  Approximate in recall only (unprobed cells), never in
        precision — the IVF batch-lookup contract.

        Returns (q_id, <id_col>, cos_sim, rank) with rank 1..k per
        query (ties break to the lower id)."""
        from pyspark.sql import Window

        q_vec = q_vec or self.vec_col
        spark = queries.sparkSession
        cent_df = local_frame(
            spark, [(self.centroids,)], "__cent array<array<double>>"
        )
        qv = F.col("__qv")
        scored = F.transform(
            F.col("__cent"),
            lambda c, i: F.struct(
                _sq_dist(qv, c).alias("d"), i.cast("int").alias("i")
            ),
        )
        # norms are computed ONCE per side (pre-explode for queries,
        # per index row for candidates): the per-PAIR work is a single
        # dot-product fold — same subexpressions as cosine(), so the
        # float results are bit-identical to the one-query probe path
        # and the SQL oracle, at a third of the per-pair array work
        probed = (
            queries.select(
                F.col(q_id),
                F.col(q_vec).cast("array<double>").alias("__qv"),
            )
            .withColumn("__qn", l2norm(F.col("__qv")))
            .crossJoin(F.broadcast(cent_df))
            .withColumn(
                "__c",
                F.explode(
                    F.transform(
                        F.slice(F.array_sort(scored), 1, nprobe),
                        lambda s: s["i"],
                    )
                ),
            )
            .drop("__cent")
        )
        # the probed-cell UNION is bounded by n_cells — a driver
        # collect of at most len(centroids) ints, never corpus data
        cells = sorted(
            r["__c"] for r in probed.select("__c").distinct().collect()
        )
        cand, _, total = self.table.read_partitions(
            [(c,) for c in cells], version=version
        )
        if cand is None:
            if total == 0:
                raise ValueError("index is empty — nothing to join")
            # probed cells hold no live vectors (erased / not yet
            # built): a legitimate empty join, typed like the real one
            qt = queries.schema[q_id].dataType.simpleString()
            return empty_frame(
                self.table.spark,
                f"{q_id} {qt}, "
                f"{self.id_col} {self._id_type(version)}, "
                "cos_sim double, rank int",
            )
        # broadcast gate: the exploded query side is |q|×nprobe rows of
        # (id, dim×8B vector, norm, cell) — estimate and compare before
        # pinning the join strategy.  queries.count() is one job over
        # the (small, batch-sized) query side, never the index.
        dim = len(self.centroids[0]) if self.centroids else 0
        est = queries.count() * nprobe * (dim * 8 + 48)
        q_side = F.broadcast(probed) if est <= broadcast_bytes else (
            # above the gate: shuffled hash join on the cell — hinted
            # so AQE cannot flip a known-oversized side back to
            # broadcast; sort-merge is pointless for n_cells keys
            probed.hint("shuffle_hash")
        )
        w = Window.partitionBy(q_id).orderBy(
            F.col("cos_sim").desc(), F.col(self.id_col)
        )
        return (
            cand.select(
                F.col(self.id_col),
                F.col(self.vec_col).cast("array<double>").alias("__cv"),
                "__c",
            )
            .withColumn("__cn", l2norm(F.col("__cv")))
            .join(q_side, "__c")
            .select(
                q_id,
                self.id_col,
                (
                    dot(F.col("__qv"), F.col("__cv"))
                    / (F.col("__qn") * F.col("__cn"))
                ).alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    # -- telemetry --------------------------------------------------------
    def cell_stats(self, version: int | None = None) -> dict:
        """Per-cell occupancy from manifest metadata — zero data reads.

        IVF cells are data-dependent: a hot cell makes probes and
        compaction lopsided, which is the realistic failure mode at
        100 TB (a probe touching the hot cell pays its whole row count;
        OPTIMIZE rewrites it end-to-end).  This surfaces the skew so
        operators can see it coming: per cell, the LIVE row count
        (fragment #rows envelope minus deletion-vector cardinality;
        None for pre-stats commits) and the data-file count (file-stats
        sidecar when recorded, else a directory listing of the holder
        version's fragment).

        Returns ``{"cells": {cell: {"rows": int|None, "files": int}},
        "rows_total", "rows_max", "rows_mean", "skew"}`` where ``skew``
        = max/mean live rows over recorded cells (1.0 = perfectly
        balanced; None when no cell has recorded counts).  Rebalance
        posture: skew is fixed by RETRAINING the coarse quantizer into
        a new index build (the FAISS stance — see the class docstring),
        not by splitting cells in place; the metric tells you when."""
        cells = {
            int(frag.split("=", 1)[1]): {"rows": s["rows"], "files": s["files"]}
            for frag, s in self.table.partition_stats(version).items()
        }
        return occupancy_summary("cells", cells)


class ManagedPqIndex(ManagedIvfIndex):
    """IVF-PQ ANN index with the same manifest lifecycle — the
    memory-bound tier of the managed family: instead of raw vectors,
    each row stores its m PQ codes (dim×8 B double → m×4 B int codes;
    m bytes in a binary layout), so a 100 TB embedding corpus indexes
    into ~TBs of postings while keeping every lifecycle property of
    `ManagedIvfIndex` (pruned appends, reassign, bloom-located
    erasure, scatter-bounded compaction, snapshot time travel,
    cell_stats telemetry — all inherited).

    Both quantizers (coarse centroids AND per-subspace codebooks) are
    trained once offline and frozen: cell assignment and codes must be
    pure functions of the vector, or history would go stale.  Probes
    are ADC (asymmetric distance computation): the query builds m
    k-entry lookup tables driver-side; a candidate's distance is m
    array lookups + a fixed left-fold — no vector arithmetic against
    the corpus at all (the FAISS IVFPQ serve path).  Approximate in
    recall (unprobed cells) AND in distance (quantization error),
    exact in ranking over the reconstructed distances."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: list[list[float]],
        codebooks: list[list[list[float]]],
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        keep_versions: int | None = None,
        bloom_ids: bool = True,
    ) -> None:
        super().__init__(
            spark,
            path,
            centroids,
            vec_col=vec_col,
            id_col=id_col,
            keep_versions=keep_versions,
            bloom_ids=bloom_ids,
        )
        self.codebooks = [
            [[float(x) for x in c] for c in cb] for cb in codebooks
        ]

    # -- write path -----------------------------------------------------
    def _stamp(self, batch: DataFrame) -> DataFrame:
        vs = self.table.versions()
        seq = (vs[-1] + 1) if vs else 1
        enc = pq_encode(
            with_cluster(
                batch.select(
                    F.col(self.id_col),
                    F.col(self.vec_col)
                    .cast("array<double>")
                    .alias(self.vec_col),
                ),
                self.vec_col,
                self.centroids,
            ),
            self.vec_col,
            self.codebooks,
        )
        code = F.array(
            *[F.col(f"__pq{j}")["i"] for j in range(len(self.codebooks))]
        )
        return enc.select(
            F.col(self.id_col), code.alias("pq_code"), F.col("__c")
        ).withColumn("__seq", F.lit(seq))

    # -- probe path -----------------------------------------------------
    def _adc(self, tabs_col: Column) -> Column:
        """ADC distance: per-subspace table lookup by code, fixed
        left-fold sum (0.0 + x is IEEE-exact, so the fold equals the
        oracle's first-element-seeded list_reduce bit-for-bit)."""
        terms = F.zip_with(
            tabs_col,
            F.col("pq_code"),
            lambda t, c: F.element_at(t, c + F.lit(1)),
        )
        return F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)

    def probe(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        version: int | None = None,
    ) -> DataFrame:
        """ADC top-k over the nprobe nearest cells of the (optionally
        time-traveled) snapshot.  Returns (id, approx_d2) ascending —
        squared L2 to the quantized reconstruction, ties to the lower
        id (the ann_pq_adc_topk conventions)."""
        cells = self.probe_cells(query_vec, nprobe)
        cand, _, total = self.table.read_partitions(
            [(c,) for c in cells], version=version
        )
        if cand is None:
            if total == 0:
                raise ValueError("index is empty — nothing to probe")
            return empty_frame(
                self.table.spark,
                f"{self.id_col} {self._id_type(version)}, approx_d2 double",
            )
        tabs = pq_adc_tables(
            self.codebooks, [float(x) for x in query_vec]
        )
        d2 = self._adc(F.expr(double_array_sql(tabs)))
        return (
            cand.select(F.col(self.id_col), d2.alias("approx_d2"))
            .orderBy(F.col("approx_d2").asc(), F.col(self.id_col).asc())
            .limit(k)
        )

    def knn_join(
        self,
        queries: DataFrame,
        k: int = 3,
        nprobe: int = 2,
        q_id: str = "q_id",
        q_vec: str | None = None,
        version: int | None = None,
        broadcast_bytes: int = 10 << 20,
    ) -> DataFrame:
        """Batch ADC k-NN join: per-query lookup tables are built
        ENGINE-side (broadcast codebook table + slice/sq-dist per
        subspace — no driver pass over the query batch), the query
        vector is DROPPED after table construction so the join side
        carries only (id, cell, m×k-double tables), and the index side
        reads only the probed-cell union of codes.  Size-gated
        broadcast with a shuffled-hash fallback, like the parent.
        Returns (q_id, <id_col>, approx_d2, rank), rank by ascending
        distance, ties to the lower id — per-query rows bit-identical
        to `probe` at the same version."""
        from pyspark.sql import Window

        q_vec = q_vec or self.vec_col
        spark = queries.sparkSession
        cent_df = local_frame(
            spark, [(self.centroids,)], "__cent array<array<double>>"
        )
        books_df = local_frame(
            spark, [(self.codebooks,)], "__books array<array<array<double>>>"
        )
        qv = F.col("__qv")
        scored = F.transform(
            F.col("__cent"),
            lambda c, i: F.struct(
                _sq_dist(qv, c).alias("d"), i.cast("int").alias("i")
            ),
        )
        offs = pq_subspace_offsets(self.codebooks)

        def tab_for(j: int) -> Column:
            sub = F.slice(qv, offs[j], len(self.codebooks[j][0]))
            return F.transform(
                F.col("__books")[j], lambda cent: _sq_dist(sub, cent)
            )

        probed = (
            queries.select(
                F.col(q_id),
                F.col(q_vec).cast("array<double>").alias("__qv"),
            )
            .crossJoin(F.broadcast(cent_df))
            .withColumn(
                "__c",
                F.explode(
                    F.transform(
                        F.slice(F.array_sort(scored), 1, nprobe),
                        lambda s: s["i"],
                    )
                ),
            )
            .crossJoin(F.broadcast(books_df))
            .withColumn(
                "__tabs",
                F.array(*[tab_for(j) for j in range(len(self.codebooks))]),
            )
            .drop("__cent", "__books", "__qv")
        )
        cells = sorted(
            r["__c"] for r in probed.select("__c").distinct().collect()
        )
        cand, _, total = self.table.read_partitions(
            [(c,) for c in cells], version=version
        )
        if cand is None:
            if total == 0:
                raise ValueError("index is empty — nothing to join")
            qt = queries.schema[q_id].dataType.simpleString()
            return empty_frame(
                self.table.spark,
                f"{q_id} {qt}, {self.id_col} {self._id_type(version)}, "
                "approx_d2 double, rank int",
            )
        # per-row width is dominated by the m×k-double tables
        m = len(self.codebooks)
        kq = max(len(cb) for cb in self.codebooks)
        est = queries.count() * nprobe * (m * kq * 8 + 48)
        q_side = F.broadcast(probed) if est <= broadcast_bytes else (
            probed.hint("shuffle_hash")
        )
        w = Window.partitionBy(q_id).orderBy(
            F.col("approx_d2").asc(), F.col(self.id_col)
        )
        return (
            cand.select(F.col(self.id_col), "pq_code", "__c")
            .join(q_side, "__c")
            .select(
                q_id,
                self.id_col,
                self._adc(F.col("__tabs")).alias("approx_d2"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )


def pq_probe_refine(
    index: "ManagedPqIndex",
    base: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    vec_col: str = "embedding",
    version: int | None = None,
) -> DataFrame:
    """FAISS-style refinement (`IndexRefineFlat`): the ADC probe
    shortlists ``k × refine`` candidates from the m-byte PQ codes,
    then ONLY those rows are re-ranked by exact squared L2 against
    their raw vectors from ``base`` (the embeddings table, or the raw
    managed IVF tier) — the standard production recipe that recovers
    most of the recall PQ quantization loses while still scanning
    codes, not vectors.

    Returns (id, exact_d2) ascending, ties to the lower id.

    Scale posture: the shortlist is k·refine rows (corpus-independent)
    and broadcasts into the base-side fetch — a point-read by id that
    bloom/zone-map pruning serves without a scan on a manifest-backed
    base; the exact arithmetic touches ≤ k·refine full vectors per
    query, so refine multiplies recall, not I/O."""
    cand = index.probe(
        query_vec, k=k * refine, nprobe=nprobe, version=version
    ).select(index.id_col)
    qlit = F.expr(double_array_sql([float(x) for x in query_vec]))
    d2 = _sq_dist(F.col(vec_col).cast("array<double>"), qlit)
    return (
        base.join(F.broadcast(cand), index.id_col)
        .select(F.col(index.id_col), d2.alias("exact_d2"))
        .orderBy(F.col("exact_d2").asc(), F.col(index.id_col))
        .limit(k)
    )
