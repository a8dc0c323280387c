"""Keyed upsert (MERGE) — the reference's ES `_id` upsert re-expressed
(SURVEY.md §4.3.1; reference con.py:55-63: `es.index(id=doc_id, ...)` —
idempotent last-write-wins by composite key).

`merge_by_key` is pure DataFrame logic (union → latest_by_key) usable in
batch or inside `foreachBatch`; `ManifestSnapshotTable` is the package's
one storage-backed keyed table — every keyed sink (streaming
`foreachBatch` targets, the drop-folder ingest, the time-travel queries)
commits through it.

Scale posture: the merge shuffles on the business key only.  For a real
100 TB keyed table this is the classic Delta/Iceberg MERGE; without a
table format in this container each commit is read-union-dedup-write on
parquet under a new version dir, with the key-hash as the shuffle
partitioner.  When the table is partitioned (the reference's
daily-index-plus-_id shape), a commit reads, merges and rewrites only
the partitions present in the batch — per-batch cost tracks batch size,
not table size; an unpartitioned table is one fragment rewritten whole.
Idempotency under replay holds because merging the same batch twice is a
fixed point of last-write-wins (verified in tests).
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from .manifest_base import (  # noqa: F401  (public re-exports)
    CommitConflictError,
    ConstraintViolationError,
    merge_by_key,
    merge_clauses,
    retry_commit,
)
from .manifest_maint import _ManifestMaintMixin
from .manifest_meta import _ManifestMetaMixin
from .manifest_metadata import _ManifestMetadataMixin
from .manifest_read import _ManifestReadMixin
from .manifest_write import _ManifestWriteMixin


class ManifestSnapshotTable(
    _ManifestMetaMixin,
    _ManifestMetadataMixin,
    _ManifestReadMixin,
    _ManifestWriteMixin,
    _ManifestMaintMixin,
):
    """Incremental MVCC snapshots on plain parquet — the "100 TB fact
    table" keyed-table shape: each commit writes ONLY the partitions
    the batch touches, plus a manifest mapping every partition to the
    snapshot version that holds its current files.  Unchanged
    partitions are inherited BY REFERENCE (a manifest entry pointing at
    an older version's files), never copied — so copy-on-write cost
    tracks the batch, not the table, while readers still get immutable
    point-in-time snapshots, rollback, and retention.  This is the read
    half of a Delta/Iceberg commit with the manifest playing the
    transaction log's role.

    Layout::

        root/v=00001/data/<pcol>=<val>/part-*.parquet
        root/v=00001/manifest.json   {"partitions": {"<pcol>=<val>": 1}}
        root/v=00001/_CLAIM          (writer identity: pid/host/ts)
        root/v=00001/_SUCCESS        (commit marker, written LAST)

    Unpartitioned (``partition_by=()``, the default): the whole table
    is the one fragment ``""`` — files sit directly under
    ``v=N/data/`` and every writing commit rewrites that fragment (the
    dimension / state-table shape: streaming dedup state, serving
    tables keyed by one id), with the same atomic commit, time travel,
    deletion vectors and change feed as the partitioned shape.

    Concurrency: commits use optimistic concurrency — every committing
    verb runs in one transaction (`_txn`) that atomically claims its
    version directory (os.mkdir) BEFORE reading its commit basis, so
    two concurrent writers can never both publish the same version or
    silently drop each other's commits; the loser raises
    `CommitConflictError` and must re-run against the new basis.  See
    the "commit protocol" section of `manifest_meta.py`.

    Soundness: pruned MERGE requires that a key can never change
    partition, so the constructor demands partition columns ⊆ keys or
    an explicit ``stable_partitions=True`` promise (the caller's word
    that each key's partition values never change across batches).
    Partition values must be non-null scalars whose ``str()`` is
    filesystem-safe (the reference daily-index shape: one string date
    column).
    """

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str],
                 order_cols: Sequence[str] | str,
                 partition_by: Sequence[str] = (),
                 stable_partitions: bool = False,
                 keep_versions: int | None = None,
                 keep_seconds: float | None = None,
                 stats_cols: Sequence[str] | None = None,
                 claim_ttl_seconds: float = 3600.0,
                 bloom_cols: Sequence[str] | None = None,
                 bloom_bits: int = 1 << 16,
                 bloom_k: int = 5,
                 constraints: dict[str, Column] | None = None,
                 generated_partitions: dict[str, str] | None = None):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.order_cols = (
            [order_cols] if isinstance(order_cols, str) else list(order_cols)
        )
        self.partition_by = list(partition_by)
        # Zone maps: per-fragment [min, max] envelopes for these columns
        # ride in every manifest (the Delta/Iceberg data-skipping
        # stats), maintained incrementally — each commit records
        # envelopes for the partitions it rewrote and inherits the rest
        # by reference, exactly like the data files.  Numeric / string /
        # bool columns only (envelopes are stored as JSON).
        self.stats_cols = list(stats_cols) if stats_cols else []
        if self._ROWS_KEY in self.stats_cols:
            raise ValueError(f"{self._ROWS_KEY!r} is a reserved stats key")
        # Bloom filters: per-FILE bloom bitsets over these columns ride
        # each version as a `blooms.json` sidecar (the Delta bloom-
        # filter-index shape).  They answer the skipping question zone
        # maps can't: EQUALITY on a high-cardinality column whose values
        # are scattered across every file, where each file's [min, max]
        # spans the whole domain.  `bloom_bits` is the per-file bitset
        # size (size ≈ 10 bits per expected distinct value per file for
        # ~1% false positives); `bloom_k` the hash count.  Sidecars are
        # inherited BY REFERENCE like the data files — the manifest's
        # fragment→holder map locates them, so unchanged fragments'
        # (potentially large) bitsets are never copied forward.
        self.bloom_cols = list(bloom_cols) if bloom_cols else []
        self.bloom_bits = int(bloom_bits)
        self.bloom_k = int(bloom_k)
        # CHECK constraints (Delta ADD CONSTRAINT CHECK): {name →
        # boolean Column}, enforced on every row a WRITING commit
        # produces (incoming rows AND the carried rows of rewritten
        # partitions — so a constraint added later surfaces violations
        # the next time old data is touched).  Checked in a SINGLE
        # pass via df.observe riding the write job itself — zero extra
        # scan at any table size; a violation abandons the whole
        # commit (ConstraintViolationError).  SQL semantics: FALSE
        # violates, NULL passes.  DELETE/compact paths don't check —
        # removing or relocating rows cannot introduce a violation,
        # and a GDPR erasure must never be blocked by an unrelated
        # constraint on carried data.
        self.constraints = dict(constraints) if constraints else {}
        # Generated partition columns (Delta generated columns, the
        # date-bucketed fact-table shape): {partition col → SQL expr
        # over the other columns}.  Write batches may OMIT the column
        # (it is derived) or carry it (one observe counter riding the
        # batch's first job proves every provided value equals the
        # derivation — zero extra scans, like CHECK constraints).
        # Persisted in the manifest on first write so every writer
        # handle derives identically.
        self.generated_partitions = (
            dict(generated_partitions) if generated_partitions else {}
        )
        bad_gen = sorted(
            set(self.generated_partitions) - set(partition_by)
        )
        if bad_gen:
            raise ValueError(
                f"generated_partitions must target partition columns; "
                f"{bad_gen} are not in partition_by"
            )
        if self.bloom_cols and (self.bloom_bits < 8 or self.bloom_k < 1):
            raise ValueError("need bloom_bits >= 8 and bloom_k >= 1")
        self._bloom_cache: dict[tuple[int, str], dict] = {}
        self.stable_partitions = stable_partitions
        if not (stable_partitions or set(self.partition_by) <= set(self.keys)):
            raise ValueError(
                "partition-pruned commits need partition columns inside the "
                "key, or stable_partitions=True (a key that moved partitions "
                "would leave its stale row behind in the old partition)"
            )
        self.keep_versions = keep_versions
        # Time-based retention (Delta's VACUUM ... RETAIN N HOURS):
        # snapshots whose commit timestamp is younger than this stay
        # readable regardless of count.  Composable with
        # keep_versions — vacuum retains the UNION of both policies
        # (and always the latest snapshot).
        self.keep_seconds = keep_seconds
        # Cross-host fallback for reclaiming a crashed writer's version
        # claim (same-host claims are judged by liveness of the
        # recorded pid, not age) — see `_claim_is_stale`.
        self.claim_ttl_seconds = claim_ttl_seconds
        # Shallow-clone base map (version → origin table root), loaded
        # lazily from any committed manifest — see `_base_map`.
        self._base_cache: dict[int, str] | None = None
        # version → commit timestamp, immutable once committed.  With
        # time-based retention, vacuum runs on every _publish and
        # needs every readable version's commit ts — without this
        # cache that is O(history) manifest-JSON parses PER COMMIT,
        # unbounded for long-lived time-retained tables.
        self._ts_cache: dict[int, float] = {}
        # memoized per-version scans and deletion-vector frames — see
        # "per-version scan resolver" in `manifest_metadata.py`
        self._scan_memo: dict[tuple, DataFrame] = {}
        self._scan_lock = threading.Lock()

