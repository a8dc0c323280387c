"""Incrementally-maintained materialized aggregate views over a
`ManifestSnapshotTable` — the continuous-rollup shape every large
fact-table deployment grows (TimescaleDB continuous aggregates,
Druid/Pinot rollup segments, Delta/Iceberg incremental MV refresh).

The reference serves its dashboards by re-aggregating the full
Elasticsearch index on every page load (app.py:58 reruns each
Streamlit interaction; Kibana re-queries the index per panel,
README.md:26-27).  At 100 TB a full re-aggregation per refresh is the
single most expensive recurring cost in the system, and it is almost
entirely redundant: a daily-partitioned fact table's commits touch a
handful of partitions, so only those partitions' contributions to the
rollup can have changed.

`IncrementalAggView` maintains per-partition-fragment PARTIAL
aggregates keyed by the base table's manifest:

- ``refresh()`` diffs the base's current manifest (fragment → holder
  version) against the fragment map recorded at the last refresh, and
  recomputes partials ONLY for fragments whose holder version moved —
  reading nothing else.  Refresh cost tracks the commits since the
  last refresh, not the table.
- ``read()`` merges the partials (sum of sums, sum of counts, min of
  mins, max of maxes) — a scan of the partials table, whose size is
  O(fragments × group cardinality), not O(base rows).

Soundness requirements (all checked or documented):

- Measures must be decomposable: sum / count / min / max, plus avg
  (partials = exact integer sum + count, one IEEE division at read
  time) and hll_distinct (partials = the 16 max-rank registers of the
  portable HyperLogLog sketch, merged with MAX — the mergeable-sketch
  form of a distinct count, since exact COUNT(DISTINCT) is holistic
  and cannot merge from partials).  Exact quantiles remain out of
  scope; use the sketch operators directly.
- ``sum`` and ``avg`` sources must be integral (or decimal): their
  exactness claim — merged partials bit-equal to a single-pass
  aggregate regardless of fragment order — only holds for exact
  arithmetic.  A double source would sum per-fragment in fragment
  order and could drift from a one-pass aggregate in the last ulp,
  breaking the hash-equality contract with declarative oracles, so
  refresh VALIDATES the (prepared) source dtype and raises on floats
  (quantize to integer micro-units in ``prepare`` instead).
- The view definition (group_cols / measures / a fingerprint of
  ``prepare``'s code) is persisted with every refresh; reconstructing
  a view over the same path with a DIFFERENT definition triggers a
  full rebuild instead of silently unioning old-definition partials
  with new ones (config drift would otherwise NULL-fill the new
  measures for inherited fragments).
- The optional ``prepare`` transform runs per fragment before
  aggregation and must be ROW-LOCAL and deterministic (derive a day
  bucket, cast, filter) — anything that looks across rows would break
  partial recomputation.
- Each base key lives in exactly one fragment (the base table already
  enforces partition-stable keys), so per-fragment latest-state rows
  partition the merged snapshot and partials never double-count.

Snapshot discipline mirrors the base table: each refresh writes a new
self-contained version dir (``partials.parquet`` + ``state.json``,
``_SUCCESS`` marker last), so a crash mid-refresh leaves the previous
refresh readable; ``vacuum()`` retains the newest ``keep_versions``.
"""
from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .upsert import ManifestSnapshotTable

# ---------------------------------------------------------------------------
# Measure kinds.  Each kind is a decomposable aggregate expressed as
# (partial aggregates over raw rows) → (merge aggregates over partials)
# → (finalizer over merged partials).  Simple kinds carry one partial
# column; `avg` carries (sum, count) and divides at read time;
# `hll_distinct` carries the 16 max-rank registers of the portable
# HyperLogLog sketch (operators/sketches.py, p=4) — the mergeable-
# sketch partial that makes DISTINCT counts continuous-aggregate-able
# (a plain COUNT(DISTINCT) is holistic and cannot merge from partials).
# ---------------------------------------------------------------------------
_HLL_P = 4
_HLL_M = 1 << _HLL_P
_HLL_W1 = 60 - _HLL_P + 1  # 57: width+1 for p=4 (see sketches.hll_rho)
_HLL_ALPHA_M2 = 0.673 * float(_HLL_M * _HLL_M)

_SIMPLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}

KINDS = tuple(_SIMPLE) + ("avg", "hll_distinct")


def _hll_fields(col: Column) -> tuple[Column, Column]:
    from .dedup import portable_hash64
    from .sketches import hll_rho

    h = portable_hash64(col.cast("string"))
    bucket = h.bitwiseAND(F.lit(_HLL_M - 1))
    rho = hll_rho(F.shiftright(h, _HLL_P), _HLL_W1 - 1)
    return bucket, rho


def _partial_aggs(name: str, src: str | None, kind: str) -> list[Column]:
    col = F.lit(1) if src is None else F.col(src)
    if kind in _SIMPLE:
        part, _ = _SIMPLE[kind]
        return [part(col).alias(f"__p_{name}__0")]
    if kind == "avg":
        return [
            F.sum(col).alias(f"__p_{name}__0"),
            F.count(col).alias(f"__p_{name}__1"),
        ]
    # hll_distinct: one max-rank register per bucket
    bucket, rho = _hll_fields(col)
    return [
        F.max(F.when(bucket == i, rho)).alias(f"__p_{name}__{i}")
        for i in range(_HLL_M)
    ]


def _merge_aggs(name: str, kind: str) -> list[Column]:
    if kind in _SIMPLE:
        _, merge = _SIMPLE[kind]
        return [merge(F.col(f"__p_{name}__0")).alias(f"__m_{name}__0")]
    if kind == "avg":
        return [
            F.sum(f"__p_{name}__0").alias(f"__m_{name}__0"),
            F.sum(f"__p_{name}__1").alias(f"__m_{name}__1"),
        ]
    return [
        F.max(f"__p_{name}__{i}").alias(f"__m_{name}__{i}")
        for i in range(_HLL_M)
    ]


def _final_expr(name: str, kind: str) -> Column:
    if kind in _SIMPLE:
        return F.col(f"__m_{name}__0").alias(name)
    if kind == "avg":
        # exact integer sum/count; ONE shared IEEE division, quantized
        # with the repo-wide FLOOR(x·s+0.5)/s so both engines hash equal
        est = (
            F.col(f"__m_{name}__0").cast("double")
            / F.col(f"__m_{name}__1").cast("double")
        )
        return (
            F.floor(est * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        ).alias(name)
    # hll_distinct: raw-HLL estimate from the merged registers — exact
    # BIGINT sum_scaled, one IEEE division (sketches.hll_estimate twin)
    regs = [F.col(f"__m_{name}__{i}") for i in range(_HLL_M)]
    nb = sum(
        (r.isNotNull().cast("long") for r in regs), F.lit(0).cast("long")
    )
    observed = sum(
        (
            F.coalesce(
                F.expr(
                    f"shiftleft(cast(1 as bigint), "
                    f"{_HLL_W1} - `__m_{name}__{i}`)"
                ),
                F.lit(0).cast("long"),
            )
            for i in range(_HLL_M)
        ),
        F.lit(0).cast("long"),
    )
    sum_scaled = observed + (F.lit(_HLL_M) - nb) * F.expr(
        f"shiftleft(cast(1 as bigint), {_HLL_W1})"
    )
    est = (
        F.lit(_HLL_ALPHA_M2)
        * F.pow(F.lit(2.0), F.lit(float(_HLL_W1)))
        / sum_scaled.cast("double")
    )
    return (
        F.floor(est * F.lit(1000.0) + F.lit(0.5)) / F.lit(1000.0)
    ).alias(name)


class _SnapshotDirStore:
    """Shared `_SUCCESS`-gated version-dir layout for view state
    (v=NNNNN dirs, newest-N retention) — one implementation so the
    snapshot discipline cannot drift between the two maintenance
    strategies.  Subclasses provide ``self.path`` /
    ``self.keep_versions``."""

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v={v:05d}")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(name[2:])
            for name in os.listdir(self.path)
            if name.startswith("v=")
            and os.path.exists(os.path.join(self.path, name, "_SUCCESS"))
        )

    def vacuum(self) -> None:
        if self.keep_versions is None:
            return
        vs = self.versions()
        for v in vs[: max(0, len(vs) - self.keep_versions)]:
            shutil.rmtree(self._vdir(v), ignore_errors=True)


class IncrementalAggView(_SnapshotDirStore):
    """See module docstring.

    Parameters
    ----------
    base : ManifestSnapshotTable
        The fact table whose merged latest-state snapshot this view
        aggregates.
    group_cols : columns of the (prepared) base rows to group by.
    measures : sequence of ``(out_name, src_col, kind)`` with kind in
        ``KINDS`` = {"sum", "count", "min", "max", "avg",
        "hll_distinct"}; ``src_col=None`` with ``"count"`` counts rows.
    prepare : optional row-local DataFrame transform applied to each
        fragment's rows before aggregation (derive buckets, filter).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        base: ManifestSnapshotTable,
        group_cols: Sequence[str],
        measures: Sequence[tuple[str, str | None, str]],
        prepare: Callable[[DataFrame], DataFrame] | None = None,
        keep_versions: int | None = 2,
    ):
        self.spark = spark
        self.path = path
        self.base = base
        self.group_cols = list(group_cols)
        self.measures = [tuple(m) for m in measures]
        self.prepare = prepare
        self.keep_versions = keep_versions
        #: refresh() outcomes in call order — observable evidence of
        #: incrementality for callers that drive refreshes indirectly
        #: (the streaming sink refreshes once per micro-batch commit)
        self.refresh_log: list[dict] = []
        if not self.measures:
            raise ValueError("IncrementalAggView requires measures")
        for name, _src, kind in self.measures:
            if kind not in KINDS:
                raise ValueError(
                    f"measure {name!r}: kind {kind!r} not decomposable "
                    f"(supported: {sorted(KINDS)})"
                )
        dims = set(self.group_cols) | set(base.partition_by)
        overlap = dims & {m[0] for m in self.measures}
        if overlap:
            raise ValueError(
                f"measure names collide with group/partition cols: {overlap}"
            )

    # snapshot layout (_vdir/versions/vacuum) comes from
    # _SnapshotDirStore — shared with DeltaAggView
    def _state(self, version: int | None = None) -> dict:
        vs = self.versions()
        if not vs:
            return {}
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in {vs}")
        with open(os.path.join(self._vdir(v), "state.json")) as fh:
            return json.load(fh)

    def _partials_path(self, version: int) -> str:
        return os.path.join(self._vdir(version), "partials.parquet")

    def _read_partials(self, version: int, state: dict) -> DataFrame:
        """The version's partials, read with the schema its refresh
        recorded in ``state`` (a state written before the schema was
        recorded falls back to inference)."""
        reader = self.spark.read
        if "partials_schema" in state:
            reader = reader.schema(
                StructType.fromJson(state["partials_schema"])
            )
        return reader.parquet(self._partials_path(version))

    # -- refresh --------------------------------------------------------
    # dtypes whose sums are exact (partial-merge order cannot change the
    # result); float/double sums are order-sensitive in the last ulp and
    # would break the view's exactness contract
    _EXACT_SUM_TYPES = ("tinyint", "smallint", "int", "bigint", "boolean")

    def _validate_exact_sources(self, df: DataFrame) -> None:
        dtypes = dict(df.dtypes)
        for name, src, kind in self.measures:
            if kind not in ("sum", "avg") or src is None:
                continue
            dt = dtypes.get(src)
            if dt is None:
                raise ValueError(
                    f"measure {name!r}: source column {src!r} missing "
                    "from the (prepared) base rows"
                )
            if not (dt in self._EXACT_SUM_TYPES or dt.startswith("decimal")):
                raise ValueError(
                    f"measure {name!r}: {kind} over {src!r} ({dt}) is not "
                    "exactly mergeable — per-fragment float sums depend on "
                    "merge order in the last ulp.  Quantize to an integer "
                    "(micro-)unit or a decimal in `prepare` first."
                )

    def _partials_for(
        self,
        frag_to_ver: dict[str, int],
        dv: dict[str, int] | None = None,
        base_doc: dict | None = None,
    ) -> DataFrame:
        # align to the base's declared schema (``base_doc`` is the
        # refresh's pinned manifest) so a measure/prepare over an
        # evolved column sees it — typed NULL or initial default for
        # pre-evolution files, exactly like base.read()
        df = self.base._read_fragments(
            frag_to_ver, dv=dv, align=base_doc
        )
        if self.prepare is not None:
            df = self.prepare(df)
        self._validate_exact_sources(df)
        # group ALSO by the base partition columns: one partial row
        # group per fragment, so a later refresh can replace exactly
        # the changed fragments' rows via a broadcast anti-join
        aggs = []
        for name, src, kind in self.measures:
            aggs.extend(_partial_aggs(name, src, kind))
        # group cols may overlap the partition cols (a daily rollup of
        # a day-partitioned base is the natural shape) — dedupe so the
        # partials carry each dimension once
        dims = list(self.base.partition_by) + [
            g for g in self.group_cols if g not in self.base.partition_by
        ]
        return df.groupBy(*dims).agg(*aggs)

    def refresh(self) -> dict:
        """Bring the view up to date with the base's latest snapshot.
        Returns ``{"version", "recomputed", "inherited", "total"}``
        (version = -1 on a no-op); also appended to ``refresh_log``."""
        info = self._refresh()
        self.refresh_log.append(info)
        return info

    def _prepare_fingerprint(self) -> str | None:
        """A stable code fingerprint of ``prepare`` (None when absent):
        bytecode + consts + names + closure-cell reprs, sha256'd.  Used
        to DETECT definition drift — a mismatch forces a full rebuild.
        It cannot prove semantic equality (an uninspectable callable or
        an exotic closure hashes conservatively), but any detected
        change is guaranteed to rebuild rather than silently merge
        partials computed under two different row transforms."""
        if self.prepare is None:
            return None
        import hashlib

        code = getattr(self.prepare, "__code__", None)
        if code is None:
            return "uninspectable"
        cells = []
        for cell in getattr(self.prepare, "__closure__", None) or ():
            try:
                cells.append(repr(cell.cell_contents))
            except ValueError:  # empty cell
                cells.append("<empty>")
        blob = repr(
            (code.co_code, code.co_consts, code.co_names, tuple(cells))
        )
        return hashlib.sha256(blob.encode()).hexdigest()

    def _definition(self) -> dict:
        return {
            "group_cols": self.group_cols,
            "measures": [list(t) for t in self.measures],
            "prepare_fingerprint": self._prepare_fingerprint(),
        }

    def _refresh(self) -> dict:
        base_doc = self.base._manifest_doc()
        m = {
            k: int(v) for k, v in base_doc.get("partitions", {}).items()
        }
        base_dv = self.base._dv_map(base_doc)
        # a fragment's effective content is (data holder, deletion-
        # vector holder): a dv-only delete moves no data files but
        # still changes what this view must aggregate, so the
        # persisted fingerprint carries both (old int-only states
        # simply compare unequal and recompute — safe migration)
        fp = {
            f: (f"{v}+dv{base_dv[f]}" if f in base_dv else v)
            for f, v in m.items()
        }
        state = self._state()
        prev_frags: dict = dict(state.get("fragments", {}))
        # Config-drift gate: partials persisted under a DIFFERENT view
        # definition (group cols, measure set, or prepare code) cannot
        # be inherited — unioning them would NULL-fill the new measure
        # columns for inherited fragments, a silently wrong aggregate.
        # Treat every fragment as changed instead (full rebuild).
        live_def = self._definition()
        persisted_def = {
            "group_cols": state.get("group_cols"),
            "measures": state.get("measures"),
            "prepare_fingerprint": state.get("prepare_fingerprint"),
        }
        if state and persisted_def != live_def:
            if not m:
                raise ValueError(
                    "view definition changed but the base table is "
                    "empty — the old-definition partials cannot be "
                    "rebuilt; delete the view path to redefine it"
                )
            prev_frags = {}
        # evict = every fragment whose old partial rows may be stale:
        # holder moved (changed) OR fragment left the manifest entirely
        # (a delete emptied its partition).  Eviction keys off the OLD
        # partials' own partition values (below), NOT the recomputed
        # rows — a changed fragment whose recompute yields zero partial
        # rows (prepare filtered everything, or all its rows were
        # deleted) must still have its old rows evicted.
        dropped = set(prev_frags) - set(m)
        changed = {
            f: v for f, v in m.items() if prev_frags.get(f) != fp[f]
        }
        evict = set(changed) | dropped
        if not evict and prev_frags:
            return {
                "version": -1,
                "recomputed": 0,
                "inherited": len(m),
                "total": len(m),
            }
        if not m and not prev_frags:
            return {"version": -1, "recomputed": 0, "inherited": 0, "total": 0}
        pb = self.base.partition_by
        fresh = (
            self._partials_for(
                changed,
                dv={f: base_dv[f] for f in changed if f in base_dv},
                base_doc=base_doc,
            )
            if changed
            else None
        )
        kept_frags = {f: v for f, v in m.items() if f not in changed}
        if prev_frags:
            prev_v = self.versions()[-1]
            old = self._read_partials(prev_v, state)
            # the partials file is one small file of bounded control
            # data: its distinct partition combos are read on the
            # driver, with no Spark job, and mapped back through
            # _part_key to find the rows to evict
            import pyarrow.parquet as pq

            held = pq.read_table(self._partials_path(prev_v), columns=pb)
            combos = {
                self.base._part_key([r[c] for c in pb]): r
                for r in held.group_by(pb).aggregate([]).to_pylist()
            }
            # every partial row belongs to a fragment the previous
            # refresh recorded; a combo that renders to any other name
            # would escape eviction and be counted twice
            stray = set(combos) - set(prev_frags)
            if stray:
                raise RuntimeError(
                    f"partials of v={prev_v} hold fragments {sorted(stray)} "
                    "that its state does not list"
                )
            evict_rows = [r for f, r in combos.items() if f in evict]
            if evict_rows:
                # literal NOT-IN predicate, not an anti-join: the evict
                # set is a handful of partition combos, and a
                # createDataFrame+broadcast here would launch a
                # 32-slice parallelize job (spawning a Python worker
                # per core) just to ship a few literals — measured at
                # ~1.6 s and ~2 GB of worker RSS per refresh, pure
                # fixed overhead on the incremental path
                hit = F.lit(False)
                for r in evict_rows:
                    eq = F.lit(True)
                    for c in pb:
                        eq = eq & F.col(c).eqNullSafe(F.lit(r[c]))
                    hit = hit | eq
                old = old.filter(~hit)
            partials = (
                old
                if fresh is None
                else old.unionByName(fresh, allowMissingColumns=True)
            )
        else:
            partials = fresh
        new_v = (self.versions()[-1] + 1) if self.versions() else 1
        vdir = self._vdir(new_v)
        shutil.rmtree(vdir, ignore_errors=True)  # crashed attempt's debris
        # the partials table is bounded control data (fragments × group
        # cardinality): land it as ONE file so every later read — the
        # next refresh's inherit scan, combos collect, and read()'s
        # merge — opens one file instead of a shuffle-partition's worth
        # of shards.  repartition(1) (not coalesce) keeps the fragment
        # aggregation itself parallel and only funnels the tiny result.
        partials.repartition(1).write.parquet(self._partials_path(new_v))
        # the partials' schema follows from the view definition and the
        # base schema; recorded next to the definition, it lets every
        # later read of this file skip Spark's schema inference job
        with open(os.path.join(vdir, "state.json"), "w") as fh:
            json.dump(
                {
                    "fragments": fp,
                    "partials_schema": partials.schema.jsonValue(),
                    **live_def,
                },
                fh,
                sort_keys=True,
            )
        with open(os.path.join(vdir, "_SUCCESS"), "w"):
            pass
        if self.keep_versions is not None:
            self.vacuum()
        return {
            "version": new_v,
            "recomputed": len(changed),
            "inherited": len(kept_frags),
            "total": len(m),
        }

    # -- read -----------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame | None:
        """The materialized aggregate: merge per-fragment partials.
        Never touches the base table."""
        vs = self.versions()
        if not vs:
            return None
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in {vs}")
        partials = self._read_partials(v, self._state(v))
        merges = []
        finals = []
        for name, _src, kind in self.measures:
            merges.extend(_merge_aggs(name, kind))
            finals.append(_final_expr(name, kind))
        return (
            partials.groupBy(*self.group_cols)
            .agg(*merges)
            .select(*self.group_cols, *finals)
        )


class DeltaAggView(_SnapshotDirStore):
    """Retraction-based incremental view maintenance (IVM) from the
    change data feed — the second maintenance strategy next to
    `IncrementalAggView`'s fragment-partial recompute, and the right
    one for the CDC shape:

    - `IncrementalAggView.refresh()` recomputes partials of the
      fragments whose manifest entry MOVED — cost O(rows in touched
      partitions).  Right when commits rewrite whole partitions.
    - `DeltaAggView.refresh()` applies the NET change feed since the
      last applied base version (`changes(cur, latest)` with update
      pre-images) as signed deltas — cost O(changed ROWS).  Right when
      partitions are huge and commits touch few keys: a 10-row CDC
      batch against a 1 TB partition refreshes in 10 rows, not 1 TB.

    Only ADDITIVE measures are retractable: count plus decimal-exact
    sums (avg derived at read time from sum / non-null count).
    min/max/HLL cannot subtract a departed row — use
    `IncrementalAggView` for those.  The net-span feed telescopes:
    applying changes(v0, v3) once equals applying the three per-commit
    feeds, because additive deltas compose (pinned by tests).

    State is one small parquet (|groups| rows: ``n`` row count, and
    per sum column ``sum_<c>`` decimal + ``nn_<c>`` non-null count),
    re-written whole per refresh under the same `_SUCCESS`-gated
    version-dir discipline as every store in this repo.  Retention
    contract: refreshing from base version v needs v still readable,
    so the base's ``keep_versions`` bounds the view's allowed lag
    (the CDF retention bound); a vacuumed gap raises instead of
    silently corrupting the rollup.  Negative counts after an apply
    mean an inconsistent feed and raise — corruption is never
    averaged away."""

    _EXACT_SUM_TYPES = ("tinyint", "smallint", "int", "bigint", "boolean")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        base: ManifestSnapshotTable,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        keep_versions: int | None = 2,
    ):
        self.spark = spark
        self.path = path
        self.base = base
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.keep_versions = keep_versions
        self.refresh_log: list[dict] = []
        if not self.group_cols:
            raise ValueError("DeltaAggView requires group_cols")
        bad = set(self.sum_cols) & set(self.group_cols)
        if bad:
            raise ValueError(f"sum cols overlap group cols: {sorted(bad)}")

    # snapshot layout (_vdir/versions/vacuum) comes from
    # _SnapshotDirStore — shared with IncrementalAggView
    def _state(self) -> dict:
        vs = self.versions()
        if not vs:
            return {}
        with open(os.path.join(self._vdir(vs[-1]), "state.json")) as fh:
            return json.load(fh)

    def _definition(self) -> dict:
        return {"group_cols": self.group_cols, "sum_cols": self.sum_cols}

    def _validate_exact_sources(self, df: DataFrame) -> None:
        dtypes = dict(df.dtypes)
        for c in self.sum_cols:
            dt = dtypes.get(c)
            if dt is None:
                raise ValueError(f"sum column {c!r} missing from base rows")
            if not (dt in self._EXACT_SUM_TYPES or dt.startswith("decimal")):
                raise ValueError(
                    f"sum over {c!r} ({dt}) is not exactly retractable — "
                    "float additions depend on order.  Quantize to an "
                    "integer (micro-)unit or a decimal first."
                )
            if dt.startswith("decimal"):
                # the accumulator input is decimal(26,6) (20 integer
                # digits / 6 fractional — wide enough for every bigint);
                # a decimal source that can't round-trip that cast
                # would silently lose value, so refuse it up front
                p, s = (
                    int(x) for x in dt[len("decimal("):-1].split(",")
                )
                if s > 6 or p - s > 20:
                    raise ValueError(
                        f"sum over {c!r} ({dt}) exceeds the exact "
                        "accumulator's decimal(26,6) input range "
                        "(≤20 integer digits, ≤6 fractional).  Rescale "
                        "the column first."
                    )

    def _measure_aggs(self, sign: Column) -> list[Column]:
        aggs = [F.sum(sign).cast("bigint").alias("n")]
        for c in self.sum_cols:
            # sign is ±1 → decimal(1,0), so the product type is
            # decimal(28,6) — exact.  The VALUE cast must hold every
            # legal bigint (19 integer digits): decimal(26,6) gives 20.
            # A narrower cast (the old 22,6 = 16 digits) silently
            # NULLed values > ~1e16 under non-ANSI Spark and the
            # coalesce turned them into 0 — a corrupted sum while
            # nn_<c> still counted the row.
            aggs.append(
                F.sum(
                    sign.cast("decimal(1,0)")
                    * F.coalesce(F.col(c).cast("decimal(26,6)"), F.lit(0))
                )
                .cast("decimal(32,6)")
                .alias(f"sum_{c}")
            )
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNotNull(), sign).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias(f"nn_{c}")
            )
        return aggs

    def _state_cols(self) -> list[str]:
        out = ["n"]
        for c in self.sum_cols:
            out += [f"sum_{c}", f"nn_{c}"]
        return out

    def refresh(self) -> dict:
        """Bring the view up to date with the base's latest snapshot.
        Bootstrap (first refresh, or definition drift) aggregates the
        current snapshot directly; afterwards each refresh applies the
        net signed change feed since the last applied base version.
        Returns ``{"version", "mode", "base_version"}`` (version = -1
        on a no-op); also appended to ``refresh_log``."""
        info = self._refresh()
        self.refresh_log.append(info)
        return info

    def _refresh(self) -> dict:
        vs = self.base.versions()
        if not vs:
            return {"version": -1, "mode": "noop", "base_version": None}
        latest = vs[-1]
        st = self._state()
        cur = st.get("base_version")
        if st and st.get("definition") != self._definition():
            cur = None  # drift: full rebuild, never mixed state
        if cur == latest:
            return {"version": -1, "mode": "noop", "base_version": latest}
        if cur is None:
            snap = self.base.read(latest)
            if snap is None:
                # all rows deleted: nothing to bootstrap from yet
                return {
                    "version": -1, "mode": "noop", "base_version": None,
                }
            self._validate_exact_sources(snap)
            state = snap.groupBy(*self.group_cols).agg(
                *self._measure_aggs(F.lit(1))
            )
            mode = "bootstrap"
        else:
            if cur not in vs:
                raise RuntimeError(
                    f"delta-view retention gap: last applied base "
                    f"version {cur} is no longer readable "
                    f"(readable: {vs}) — raise the base's keep_versions "
                    "to cover the view's refresh lag"
                )
            feed = self.base.changes(
                cur, latest, emit_update_preimages=True
            )
            state = self._fold(feed)
            mode = "delta"
        return self._publish(state, latest, mode)

    def _fold(self, feed: DataFrame) -> DataFrame:
        """Fold a signed change feed (insert / update_postimage add,
        delete / update_preimage subtract) into the current state —
        work proportional to FEED rows plus |groups|, independent of
        the base table."""
        self._validate_exact_sources(feed)
        sign = (
            F.when(
                F.col("_change_type").isin(
                    "insert", "update_postimage"
                ),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
        )
        delta = feed.groupBy(*self.group_cols).agg(
            *self._measure_aggs(sign)
        )
        # avg_* are derived at read time — fold only raw state cols
        prev = self.read().select(*self.group_cols, *self._state_cols())
        return (
            prev.unionByName(delta)
            .groupBy(*self.group_cols)
            .agg(
                *[
                    F.sum(c).cast(
                        "bigint" if not c.startswith("sum_")
                        else "decimal(32,6)"
                    ).alias(c)
                    for c in self._state_cols()
                ]
            )
        )

    def apply_feed(self, feed: DataFrame, base_version: int) -> dict:
        """Apply a PRE-MATERIALIZED change feed covering exactly
        (current base version, ``base_version``] — the relay
        composition: `changes_relay_run(emit_update_preimages=True)`
        produces per-commit feeds ONCE, and every downstream view
        applies its span from the feed store in O(feed rows) without
        re-diffing the base (or even reaching it).  The feed must
        carry update pre-images; cursor continuity is the caller's
        contract (apply exactly the rows of the span, each commit
        once) — enforced here only as monotonicity, plus the same
        negative-count refusal as `refresh`.  The view must be
        bootstrapped first (initial snapshots are state, not feed)."""
        st = self._state()
        cur = st.get("base_version")
        if cur is None:
            raise RuntimeError(
                "apply_feed needs a bootstrapped view — call refresh() "
                "once before switching to feed-driven maintenance"
            )
        if st.get("definition") != self._definition():
            raise RuntimeError(
                "view definition drifted — refresh() to rebuild before "
                "applying feeds"
            )
        if base_version <= cur:
            return {
                "version": -1, "mode": "noop", "base_version": cur,
            }
        info = self._publish(self._fold(feed), base_version, "feed")
        self.refresh_log.append(info)
        return info

    def _publish(
        self, state: DataFrame, base_version: int, mode: str
    ) -> dict:
        from pyspark.sql import Observation

        # every counter must stay non-negative — not just n: an
        # unmatched preimage can cancel n back to zero while leaving a
        # negative non-null count / impossible accumulator behind, and
        # publishing that would compound in every later fold.  The
        # violation counter rides the WRITE job itself (df.observe, the
        # same zero-extra-scan pattern as the manifest CHECK
        # constraints) — this used to be localCheckpoint + a separate
        # count job + the write, three materializations of the fold
        # (r14, guide §1.2: don't compute things twice).  Publish
        # safety is unchanged: _SUCCESS lands only after the gate, so
        # a violating state file is invisible debris, removed below.
        bad = F.col("n") < 0
        for c in self.sum_cols:
            bad = bad | (F.col(f"nn_{c}") < 0)
            bad = bad | (F.col(f"nn_{c}") > F.col("n"))
        obs = Observation()
        state = state.observe(
            obs,
            F.sum(F.when(bad, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("neg"),
        ).filter(F.col("n") > 0)
        new_v = (self.versions()[-1] + 1) if self.versions() else 1
        vdir = self._vdir(new_v)
        os.makedirs(vdir, exist_ok=True)
        state.write.mode("overwrite").parquet(
            os.path.join(vdir, "state.parquet")
        )
        neg = obs.get["neg"]
        if neg:
            shutil.rmtree(vdir, ignore_errors=True)
            raise RuntimeError(
                f"{int(neg)} groups went negative (or inconsistent) "
                "applying the change feed — inconsistent feed, refusing "
                "to publish"
            )
        with open(os.path.join(vdir, "state.json"), "w") as fh:
            json.dump(
                {
                    "base_version": base_version,
                    "definition": self._definition(),
                },
                fh,
                sort_keys=True,
            )
        with open(os.path.join(vdir, "_SUCCESS"), "w"):
            pass
        if self.keep_versions is not None:
            self.vacuum()
        return {
            "version": new_v, "mode": mode, "base_version": base_version,
        }

    def read(self, version: int | None = None) -> DataFrame | None:
        """The maintained rollup: group cols, ``n``, exact decimal
        ``sum_<c>``, non-null counts ``nn_<c>``, and derived
        ``avg_<c>`` (NULL when the group has no non-null values,
        matching SQL AVG).  Never touches the base table."""
        vs = self.versions()
        if not vs:
            return None
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in {vs}")
        state = self.spark.read.parquet(
            os.path.join(self._vdir(v), "state.parquet")
        )
        # SQL semantics at the edge: SUM over an all-NULL group is NULL
        # (the stored accumulator is exactly 0 whenever nn == 0, so the
        # mask loses nothing and internal refolds stay consistent)
        masked = []
        for c in self._state_cols():
            if c.startswith("sum_"):
                src = c[len("sum_"):]
                masked.append(
                    F.when(F.col(f"nn_{src}") > 0, F.col(c)).alias(c)
                )
            else:
                masked.append(F.col(c))
        derived = [
            F.when(
                F.col(f"nn_{c}") > 0,
                (F.col(f"sum_{c}") / F.col(f"nn_{c}")).cast(
                    "decimal(32,9)"
                ),
            ).alias(f"avg_{c}")
            for c in self.sum_cols
        ]
        return state.select(*self.group_cols, *masked, *derived)
