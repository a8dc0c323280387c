"""Sink layout of `ManifestSnapshotTable`: partitioned writes, file
stats, compaction, range and Z-order clustering.  These are layout
properties — file counts, dir structure, per-file key ranges — not just
data round-trips."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.datasets import (
    load_table,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)

from .conftest import SF_SMALL


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def _events_by_day(spark):
    return load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )


def _events_table(spark, path, **kw):
    return ManifestSnapshotTable(
        spark, path, keys=["day", "event_id"], order_cols=["event_id"],
        partition_by=["day"], **kw,
    )


def _row_hash_sum(df):
    cols = sorted(df.columns)
    h = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
    return df.agg(F.sum(F.crc32(h))).head()[0]


def _fragment_files(t, frag):
    v = t.manifest()[frag]
    return _parquet_files(os.path.join(t.path, f"v={v:05d}", "data", frag))


def test_write_partitioned_one_file_per_partition(spark, tmp_path):
    events = _events_by_day(spark)
    t = _events_table(spark, str(tmp_path / "events_by_day"))
    t.upsert(events)

    days = events.select("day").distinct().count()
    frags = t.manifest()
    assert len(frags) == days and all(f.startswith("day=") for f in frags)
    # the whole point: one writer task per partition → one file per dir
    for frag in frags:
        assert len(_fragment_files(t, frag)) == 1, frag
    assert t.read().count() == events.count()


@pytest.fixture(scope="module")
def compacted_events(spark, tmp_path_factory):
    """The events fixture ingested as four micro-batches, each landing
    a slice of the days, so the latest manifest scatters its day
    fragments over four holder versions, then compacted; yields
    (table, manifest before, row hash before)."""
    events = _events_by_day(spark)
    t = _events_table(spark, str(tmp_path_factory.mktemp("ev") / "t"))
    for b in range(4):
        t.upsert(events.filter(F.dayofmonth("day") % 4 == b))
    before = t.manifest()
    h = _row_hash_sum(t.read())
    t.compact()
    return t, before, h


def test_compact_collapses_small_files(compacted_events):
    t, before, h = compacted_events
    assert len(set(before.values())) == 4  # micro-batches scattered it
    after = t.manifest()
    assert len(set(after.values())) == 1  # one self-contained holder
    for frag in after:
        assert len(_fragment_files(t, frag)) == 1, frag
    assert _row_hash_sum(t.read()) == h


def test_compact_partitioned_keeps_dirs(compacted_events):
    t, before, _h = compacted_events
    v = t.versions()[-1]
    assert set(t.manifest()) == set(before)
    dirs = os.listdir(os.path.join(t.path, f"v={v:05d}", "data"))
    assert sorted(d for d in dirs if d.startswith("day=")) == sorted(before)


def test_file_stats_inventory(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "p", (F.col("o_orderkey") % 4).cast("int")
    )
    t = ManifestSnapshotTable(
        spark, str(tmp_path / "orders_stats"), keys=["p", "o_orderkey"],
        order_cols=["o_orderkey"], partition_by=["p"],
        stats_cols=["o_orderkey"],
    )
    t.upsert(orders)
    stats = t.file_stats()
    assert set(stats) == set(t.manifest())
    # one entry per data file on disk, with that file's key envelope
    for frag, files in stats.items():
        on_disk = {os.path.basename(f) for f in _fragment_files(t, frag)}
        assert set(files) == on_disk, frag
        p = int(frag.split("=")[1])
        want = orders.filter(F.col("p") == p).agg(
            F.min("o_orderkey"), F.max("o_orderkey")
        ).head()
        (env,) = files.values()
        assert env["o_orderkey"] == [want[0], want[1]]


def test_write_clustered_files_own_disjoint_ranges(spark, tmp_path):
    li = load_table(spark, SF_SMALL, "lineitem")
    t = ManifestSnapshotTable(
        spark, str(tmp_path / "lineitem_clustered"),
        keys=["l_orderkey", "l_linenumber"], order_cols=["l_linenumber"],
        stats_cols=["l_orderkey"],
    )
    t.upsert(li)
    t.compact(cluster_by=["l_orderkey"], cluster_files=4)

    (files,) = t.file_stats().values()
    ranges = sorted(env["l_orderkey"] for env in files.values())
    assert len(ranges) == 4
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev[1] <= cur[0]  # disjoint key ranges ⇒ file-level skipping


def test_zorder_files_cover_small_hyperrectangles(spark, tmp_path):
    """Each z-ordered file must own a small 2-D region of the
    (user_id, value) space — the property range clustering on user_id
    alone cannot give for predicates on value."""
    events = load_table(spark, SF_SMALL, "events")
    t = ManifestSnapshotTable(
        spark, str(tmp_path / "zordered"), keys=["event_id"],
        order_cols=["event_id"], stats_cols=["user_id", "value"],
    )
    t.upsert(events)
    t.compact(
        cluster_by=["user_id", "value"], cluster_files=8,
        cluster_method="zorder",
    )

    (files,) = t.file_stats().values()
    assert len(files) == 8
    g = events.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).head()
    u_span, v_span = (g[1] - g[0]) or 1, (g[3] - g[2]) or 1.0
    # average file covers a fraction of the 2-D area; 8 z-order files
    # should land well under half the full rectangle each
    fracs = [
        ((e["user_id"][1] - e["user_id"][0]) / u_span)
        * ((e["value"][1] - e["value"][0]) / v_span)
        for e in files.values()
    ]
    assert sum(fracs) / len(fracs) < 0.5, fracs


def test_report_tool_builds_dashboard(spark):
    """The serving-layer report (tools/report.py) renders the registered
    aggregations into a self-contained HTML dashboard: stat tiles, three
    SVG charts with per-mark tooltips, and a table view per chart."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "report_tool",
        os.path.join(os.path.dirname(__file__), "..", "tools", "report.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    html_text = mod.build_report(spark, "/root/testdata/sf0.001")
    assert html_text.count("class='tile'") == 4
    assert html_text.count("<svg") == 3
    assert html_text.count("<table>") == 4  # 3 chart views + pricing
    assert html_text.count("<title>") > 10  # per-bar hover tooltips
    assert ">None<" not in html_text and ">NaN<" not in html_text
    # self-contained: no external fetches
    assert "http://" not in html_text and "https://" not in html_text


class TestPartitionPrunedMerge:
    """ManifestSnapshotTable.upsert with partition_by ⊆ keys rewrites
    ONLY the partitions present in the batch; every other fragment stays
    with its old holder version — the Delta/Iceberg MERGE file-pruning
    shape on plain parquet."""

    @staticmethod
    def _mk(spark, tmp_path, keys, **kw):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
            ManifestSnapshotTable,
        )

        return ManifestSnapshotTable(
            spark,
            str(tmp_path / "t"),
            keys=keys,
            order_cols=["seq"],
            partition_by=["day"],
            **kw,
        )

    @staticmethod
    def _rows(spark, data):
        return spark.createDataFrame(
            data, "day string, k int, v string, seq int"
        )

    @staticmethod
    def _file_sig(root):
        sig = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    sig[p] = os.stat(p).st_mtime_ns
        return sig

    def _assert_untouched(self, t, before_sig, frags):
        """No file under an untouched fragment's holder version is
        rewritten: the manifest still points each fragment at its old
        holder, and that holder's files are byte-for-byte the same."""
        m = t.manifest()
        for frag in frags:
            held = os.path.join(t._data_dir(m[frag]), frag)
            old = {p: n for p, n in before_sig.items() if p.startswith(held)}
            assert old, f"fixture sanity: {frag} has files"
            assert self._file_sig(held) == old, f"{frag} rewritten"

    def test_untouched_partitions_not_rewritten(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, keys=["day", "k"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 2, "b", 1),
            ("d2", 1, "c", 1), ("d3", 9, "z", 1),
        ]))
        before = self._file_sig(t.path)

        # second batch touches ONLY day=d1
        t.upsert(self._rows(spark, [("d1", 2, "B2", 2), ("d1", 3, "n", 2)]))
        assert t.manifest() == {"day=d1": 2, "day=d2": 1, "day=d3": 1}
        self._assert_untouched(t, before, ["day=d2", "day=d3"])

        got = {
            (r.day, r.k): r.v for r in t.read().collect()
        }
        assert got == {
            ("d1", 1): "a", ("d1", 2): "B2", ("d1", 3): "n",
            ("d2", 1): "c", ("d3", 9): "z",
        }

    def test_replay_idempotent_under_pruning(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, keys=["day", "k"])
        batch = self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)])
        t.upsert(batch)
        t.upsert(batch)  # replay: fixed point
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a", ("d2", 1): "c"}

    def test_stable_partitions_flag_enables_pruning(self, spark, tmp_path):
        # partition derived from an immutable attribute (not in the
        # key): without the caller's stable_partitions promise the
        # table is refused, with it the commit prunes
        import pytest

        with pytest.raises(ValueError, match="stable_partitions=True"):
            self._mk(spark, tmp_path, keys=["k"])
        t = self._mk(spark, tmp_path, keys=["k"], stable_partitions=True)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 2, "c", 1)]))
        before = self._file_sig(t.path)
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        self._assert_untouched(t, before, ["day=d2"])
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a2", ("d2", 2): "c"}

    def test_schema_evolution_under_pruning(self, spark, tmp_path):
        """A widening batch touching only SOME partitions must not lose
        the new column: read() applies the declared widened schema
        (untouched partitions surface it as NULL) and later merges
        preserve it on disk."""
        t = self._mk(spark, tmp_path, keys=["day", "k"])  # pruned path
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        widened = spark.createDataFrame(
            [("d2", 1, "c2", 2, "extra-val")],
            "day string, k int, v string, seq int, extra string",
        )
        # touches only d2, carries new column
        t.upsert(widened, schema_evolution=True)
        got = {
            (r.day, r.k): (r.v, r["extra"]) for r in t.read().collect()
        }
        assert got == {
            ("d1", 1): ("a", None),  # untouched partition: NULL-widened
            ("d2", 1): ("c2", "extra-val"),
        }
        # a later merge touching d2 must keep the column's data on disk
        t.upsert(
            self._rows(spark, [("d2", 2, "n", 3)]).withColumn(
                "extra", F.lit(None).cast("string")
            )
        )
        got = {
            (r.day, r.k): (r.v, r["extra"]) for r in t.read().collect()
        }
        assert got[("d2", 1)] == ("c2", "extra-val")
        assert got[("d2", 2)] == ("n", None)


class TestManifestSnapshotTable:
    """Incremental MVCC commits: only batch-touched partitions are
    written; everything else is inherited by manifest reference."""

    @staticmethod
    def _mk(spark, tmp_path, **kw):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
            ManifestSnapshotTable,
        )

        return ManifestSnapshotTable(
            spark,
            str(tmp_path / "ms"),
            keys=["day", "k"],
            order_cols=["seq"],
            partition_by=["day"],
            **kw,
        )

    @staticmethod
    def _rows(spark, data):
        return spark.createDataFrame(
            data, "day string, k int, v string, seq int"
        )

    def test_commit_writes_only_touched_partitions(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        v1 = t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d2", 1, "c", 1), ("d3", 9, "z", 1),
        ]))
        v2 = t.upsert(self._rows(spark, [("d1", 1, "a2", 2), ("d1", 2, "n", 2)]))
        assert (v1, v2) == (1, 2)
        # v=2 holds ONLY day=d1; d2/d3 inherited from v=1 by reference
        v2_data = os.listdir(str(tmp_path / "ms" / "v=00002" / "data"))
        assert [d for d in v2_data if d.startswith("day=")] == ["day=d1"]
        assert t.manifest() == {"day=d1": 2, "day=d2": 1, "day=d3": 1}

        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {
            ("d1", 1): "a2", ("d1", 2): "n",
            ("d2", 1): "c", ("d3", 9): "z",
        }
        # time travel: v1 still shows the pre-merge state
        old = {(r.day, r.k): r.v for r in t.read(version=1).collect()}
        assert old == {("d1", 1): "a", ("d2", 1): "c", ("d3", 9): "z"}

    def test_replay_idempotent(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        batch = self._rows(spark, [("d1", 1, "a", 1)])
        t.upsert(batch)
        t.upsert(batch)
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a"}

    def test_rollback_and_vacuum_keep_referenced_versions(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        t = self._mk(spark, tmp_path, keep_versions=2)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        t.upsert(self._rows(spark, [("d1", 1, "a3", 3)]))
        # keep_versions=2 retains v2,v3 — v1 still holds day=d2 for BOTH
        # retained manifests, so vacuum keeps its files on disk but
        # DEMOTES it to a data holder: no longer a readable snapshot
        # (its own manifest could reference vacuumed versions).
        assert t.versions() == [2, 3]
        assert os.path.isdir(str(tmp_path / "ms" / "v=00001"))
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a3", ("d2", 1): "c"}
        with _pytest.raises(ValueError, match="data holder"):
            t.read(version=1)
        t.rollback(2)
        assert t.versions() == [2]
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a2", ("d2", 1): "c"}

    def test_holder_version_rollback_refused_and_reads_stay_sound(
        self, spark, tmp_path
    ):
        """The round-7 advice repro: v1 writes {d1,d2}; v2 touches d2;
        v3-v5 touch d1; keep_versions=2 retains {v4,v5}, deletes v1 and
        v3, and keeps v2 ONLY because retained manifests inherit d2 from
        it — but v2's own manifest maps d1→v1 (deleted).  v2 must not be
        offered as a snapshot: read(2)/rollback(2) refuse loudly instead
        of failing with PATH_NOT_FOUND / wedging the table."""
        import pytest as _pytest

        t = self._mk(spark, tmp_path, keep_versions=2)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        t.upsert(self._rows(spark, [("d2", 1, "c2", 2)]))
        t.upsert(self._rows(spark, [("d1", 1, "a3", 3)]))
        t.upsert(self._rows(spark, [("d1", 1, "a4", 4)]))
        t.upsert(self._rows(spark, [("d1", 1, "a5", 5)]))
        root = tmp_path / "ms"
        assert t.versions() == [4, 5]
        assert not os.path.isdir(str(root / "v=00001"))  # unreferenced
        assert not os.path.isdir(str(root / "v=00003"))  # unreferenced
        assert os.path.isdir(str(root / "v=00002"))  # holder of d2
        # latest read resolves d2 out of the holder
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a5", ("d2", 1): "c2"}
        with _pytest.raises(ValueError, match="data holder"):
            t.read(version=2)
        with _pytest.raises(ValueError, match="data holder"):
            t.rollback(2)
        # rolling back to a genuine retained snapshot still works and
        # keeps the holder it references
        t.rollback(4)
        assert t.versions() == [4]
        assert os.path.isdir(str(root / "v=00002"))
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a4", ("d2", 1): "c2"}
        # and upsert continues cleanly from the rolled-back state
        t.upsert(self._rows(spark, [("d2", 1, "c6", 6)]))
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a4", ("d2", 1): "c6"}

    def test_vacuum_deletes_holder_once_unreferenced(self, spark, tmp_path):
        """A demoted holder must not leak forever: once no retained
        manifest references it any more (its partition got rewritten),
        the next vacuum deletes the dir."""
        t = self._mk(spark, tmp_path, keep_versions=2)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        t.upsert(self._rows(spark, [("d1", 1, "a3", 3)]))
        root = tmp_path / "ms"
        assert os.path.isdir(str(root / "v=00001"))  # holder of d2
        t.upsert(self._rows(spark, [("d2", 1, "c4", 4)]))  # d2 rewritten
        t.upsert(self._rows(spark, [("d1", 1, "a5", 5)]))
        # retained {4,5} reference d1→{3,5}, d2→4 — v1 unreferenced now
        assert not os.path.isdir(str(root / "v=00001"))
        assert t.versions() == [4, 5]
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a5", ("d2", 1): "c4"}

    def test_compact_collapses_scatter_and_unblocks_vacuum(
        self, spark, tmp_path
    ):
        """compact() rewrites every live partition under one version:
        the manifest collapses to a single self-contained holder, reads
        are observationally unchanged (including time travel to older
        snapshots), and a following vacuum can reclaim EVERY older dir
        — no demoted holders survive."""
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        t.upsert(self._rows(spark, [("d2", 1, "c2", 3), ("d3", 1, "z", 3)]))
        before = {(r.day, r.k): r.v for r in t.read().collect()}
        assert set(t.manifest().values()) == {2, 3}
        assert t.compact() == 4
        assert t.manifest() == {"day=d1": 4, "day=d2": 4, "day=d3": 4}
        after = {(r.day, r.k): r.v for r in t.read().collect()}
        assert after == before == {
            ("d1", 1): "a2", ("d2", 1): "c2", ("d3", 1): "z",
        }
        # pre-compact snapshots stay readable until retention says not
        old = {(r.day, r.k): r.v for r in t.read(version=1).collect()}
        assert old == {("d1", 1): "a", ("d2", 1): "c"}
        t.keep_versions = 1
        t.vacuum()
        assert t._committed_dirs() == [4]
        assert {(r.day, r.k): r.v for r in t.read().collect()} == after

    def test_compact_noop_on_empty_and_already_compact(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        assert t.compact() == 0  # empty table: nothing to write
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        # single-holder manifest: compact is a no-op, no new version
        assert t.compact() == 1
        assert t.versions() == [1]
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        assert t.compact() == 3
        assert t.compact() == 3  # idempotent once compact
        assert t.versions() == [1, 2, 3]

    def test_compact_bin_packs_one_file_per_partition(self, spark, tmp_path):
        """The compaction rewrite repartitions on the partition columns,
        so each hive partition's accumulated small files land in exactly
        one output file."""
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", k, f"v{k}", 1) for k in range(4)]))
        t.upsert(self._rows(spark, [("d2", 1, "y", 2)]))
        v = t.compact()
        data = tmp_path / "ms" / f"v=0000{v}" / "data"
        for part in ("day=d1", "day=d2"):
            files = [
                f for f in os.listdir(str(data / part))
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{part}: {files}"

    def test_maybe_compact_fires_only_over_threshold(self, spark, tmp_path):
        """maybe_compact(N) is the auto-OPTIMIZE policy: a no-op while
        the manifest references ≤ N holder versions, one compaction the
        moment it exceeds N."""
        import pytest as _pytest

        t = self._mk(spark, tmp_path)
        with _pytest.raises(ValueError, match="max_scatter"):
            t.maybe_compact(0)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        # scatter = 2 holders: at the threshold, not over it
        assert t.maybe_compact(2) is None
        t.upsert(self._rows(spark, [("d3", 1, "z", 3)]))
        # scatter = 3 > 2: compacts to a single holder
        assert t.maybe_compact(2) == 4
        assert set(t.manifest().values()) == {4}
        assert t.maybe_compact(2) is None  # compact table: quiescent
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 1): "a2", ("d2", 1): "c", ("d3", 1): "z"}

    def test_zone_map_stats_recorded_and_inherited(self, spark, tmp_path):
        """stats_cols envelopes follow the manifest commit discipline:
        rewritten fragments get fresh [min,max], untouched fragments
        inherit their envelope by reference."""
        t = self._mk(spark, tmp_path, stats_cols=["seq", "v"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 2, "b", 5), ("d2", 1, "c", 3),
        ]))
        st = t.fragment_stats()
        assert st["day=d1"]["seq"] == [1, 5]
        assert st["day=d2"]["seq"] == [3, 3]
        t.upsert(self._rows(spark, [("d2", 2, "z", 9)]))
        st2 = t.fragment_stats()
        assert st2["day=d1"]["seq"] == [1, 5]      # inherited
        assert st2["day=d2"]["seq"] == [3, 9]      # rescanned on merge
        assert st2["day=d2"]["v"] == ["c", "z"]    # string envelopes too

    def test_read_where_prunes_by_envelope_matches_full_filter(
        self, spark, tmp_path
    ):
        t = self._mk(spark, tmp_path, stats_cols=["seq"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 2, "b", 3),
            ("d2", 1, "c", 10), ("d2", 2, "d", 12),
            ("d3", 1, "e", 20), ("d3", 2, "f", 22),
        ]))
        df, kept, total, fk, ft = t.read_where("seq", 10, 21)
        assert (kept, total) == (2, 3)  # d1's [1,3] envelope skipped
        assert fk <= ft and ft >= 2  # file tier active on survivors
        got = {(r.day, r.k, r.seq) for r in df.collect()}
        full = {
            (r.day, r.k, r.seq)
            for r in t.read().filter("seq >= 10 and seq <= 21").collect()
        }
        assert got == full == {("d2", 1, 10), ("d2", 2, 12), ("d3", 1, 20)}
        # fully disjoint range: zero fragments read, schema preserved
        df0, k0, t0, _fk, _ft = t.read_where("seq", 100, 200)
        assert (k0, t0) == (0, 3)
        assert df0.count() == 0
        assert set(df0.columns) == {"day", "k", "v", "seq"}

    def test_read_where_keeps_unstatted_fragments_and_compact_backfills(
        self, spark, tmp_path
    ):
        """Fragments committed before stats_cols was configured have no
        envelope: read_where must keep them conservatively (pruning is
        never a filter), and compact()'s full rewrite backfills them."""
        legacy = self._mk(spark, tmp_path)  # no stats_cols
        legacy.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d2", 1, "c", 10),
        ]))
        t = self._mk(spark, tmp_path, stats_cols=["seq"])
        t.upsert(self._rows(spark, [("d3", 1, "e", 20)]))
        assert set(t.fragment_stats()) == {"day=d3"}
        # range hits nothing, but the two legacy fragments must survive
        df, kept, total, _fk, _ft = t.read_where("seq", 5, 12)
        assert (kept, total) == (2, 3)
        assert {(r.day, r.seq) for r in df.collect()} == {("d2", 10)}
        v = t.compact()
        st = t.fragment_stats()
        # envelopes carry the reserved #rows count (metadata-only
        # COUNT(*)) next to the [min, max] pairs
        assert st == {
            "day=d1": {"seq": [1, 1], "#rows": 1},
            "day=d2": {"seq": [10, 10], "#rows": 1},
            "day=d3": {"seq": [20, 20], "#rows": 1},
        }
        _, kept2, total2, _fk2, _ft2 = t.read_where("seq", 5, 12)
        assert (kept2, total2) == (1, 3)
        assert set(t.manifest().values()) == {v}

    def test_clustered_compact_enables_file_level_skipping(
        self, spark, tmp_path
    ):
        """OPTIMIZE CLUSTER BY: after compact(cluster_by=[col]) a
        fragment's files own disjoint col ranges, so a narrow
        read_where keeps a strict subset of files AND still returns
        exactly the full-filter result."""
        t = self._mk(spark, tmp_path, stats_cols=["seq"])
        t.upsert(self._rows(spark, [
            ("d1", k, f"v{k}", k) for k in range(40)
        ]))
        t.compact(cluster_by=["seq"], cluster_files=4)
        df, kept, total, fk, ft = t.read_where("seq", 0, 9)
        assert (kept, total) == (1, 1)
        assert ft >= 3 and 0 < fk < ft, (fk, ft)  # file tier pruned
        got = {(r.k, r.seq) for r in df.collect()}
        full = {
            (r.k, r.seq)
            for r in t.read().filter("seq between 0 and 9").collect()
        }
        assert got == full and len(got) == 10
        # every-file-pruned range inside a surviving fragment: hmm, a
        # range can't survive the fragment envelope yet miss all files
        # when files tile the fragment range — covered by construction

    def test_file_stats_inherited_with_fragment(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, stats_cols=["seq"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d2", 2, "b", 10),
        ]))
        fs1 = t.file_stats()
        assert set(fs1) == {"day=d1", "day=d2"}
        # touch only d2: d1's per-file envelopes inherited verbatim
        t.upsert(self._rows(spark, [("d2", 3, "c", 12)]))
        fs2 = t.file_stats()
        assert fs2["day=d1"] == fs1["day=d1"]
        assert fs2["day=d2"] != fs1["day=d2"]

    def test_read_where_all_conjunction_prunes_on_any_column(
        self, spark, tmp_path
    ):
        """Multi-column skipping: a fragment survives only if EVERY
        condition's envelope intersects; result equals the full
        AND-filter exactly."""
        t = self._mk(spark, tmp_path, stats_cols=["seq", "k"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 2, "b", 3),    # seq [1,3]  k [1,2]
            ("d2", 5, "c", 10), ("d2", 6, "d", 12),  # seq [10,12] k [5,6]
            ("d3", 1, "e", 20), ("d3", 9, "f", 22),  # seq [20,22] k [1,9]
        ]))
        # seq range admits d2+d3; k range admits d1+d3 → only d3 kept
        df, kept, total, _fk, _ft = t.read_where_all(
            [("seq", 10, 25), ("k", 0, 2)]
        )
        assert (kept, total) == (1, 3)
        got = {(r.day, r.k, r.seq) for r in df.collect()}
        full = {
            (r.day, r.k, r.seq)
            for r in t.read()
            .filter("seq between 10 and 25 and k between 0 and 2")
            .collect()
        }
        assert got == full == {("d3", 1, 20)}

    def test_read_where_conservative_without_file_stats(
        self, spark, tmp_path
    ):
        """Legacy fragments (no per-file envelopes) are read whole —
        the file tier never filters what it cannot prove absent."""
        legacy = self._mk(spark, tmp_path)  # no stats_cols
        legacy.upsert(self._rows(spark, [("d1", 1, "a", 7)]))
        t = self._mk(spark, tmp_path, stats_cols=["seq"])
        df, kept, total, fk, ft = t.read_where("seq", 0, 100)
        assert (kept, total) == (1, 1)
        assert fk == ft >= 1  # unknown files all kept
        assert {(r.day, r.seq) for r in df.collect()} == {("d1", 7)}

    def test_unsound_pruning_config_rejected(self, spark, tmp_path):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
            ManifestSnapshotTable,
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="stable_partitions"):
            ManifestSnapshotTable(
                spark, str(tmp_path / "bad"), keys=["k"],
                order_cols=["seq"], partition_by=["day"],
            )


class TestManifestDelete:
    """Keyed / predicate DELETE commits: copy-on-write rewrite of ONLY
    the partitions the doomed rows live in; fully-emptied partitions
    leave the manifest."""

    _mk = staticmethod(TestManifestSnapshotTable._mk)
    _rows = staticmethod(TestManifestSnapshotTable._rows)

    def _seed(self, spark, tmp_path, **kw):
        t = self._mk(spark, tmp_path, **kw)
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 2, "b", 1),
            ("d2", 3, "c", 1), ("d3", 4, "z", 1),
        ]))
        return t

    def test_delete_rewrites_only_touched_partitions(self, spark, tmp_path):
        t = self._seed(spark, tmp_path)
        v = t.delete(spark.createDataFrame([("d1", 1)], "day string, k int"))
        assert v == 2
        # v=2 holds ONLY day=d1 (the partition the deleted key lives in)
        v2_data = os.listdir(str(tmp_path / "ms" / "v=00002" / "data"))
        assert [d for d in v2_data if d.startswith("day=")] == ["day=d1"]
        assert t.manifest() == {"day=d1": 2, "day=d2": 1, "day=d3": 1}
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {("d1", 2): "b", ("d2", 3): "c", ("d3", 4): "z"}
        # time travel: the pre-delete snapshot still shows the row
        assert ("d1", 1) in {
            (r.day, r.k) for r in t.read(version=1).collect()
        }

    def test_delete_emptied_partition_leaves_manifest(self, spark, tmp_path):
        t = self._seed(spark, tmp_path)
        t.delete(spark.createDataFrame([("d2", 3)], "day string, k int"))
        m = t.manifest()
        assert "day=d2" not in m
        assert {r.day for r in t.read().collect()} == {"d1", "d3"}

    def test_delete_all_rows_empties_table(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1)]))
        t.delete(spark.createDataFrame([("d1", 1)], "day string, k int"))
        assert t.manifest() == {}
        assert t.read() is None
        # the table accepts new commits after being emptied
        t.upsert(self._rows(spark, [("d9", 7, "q", 1)]))
        assert {(r.day, r.k) for r in t.read().collect()} == {("d9", 7)}

    def test_delete_missing_keys_is_noop(self, spark, tmp_path):
        t = self._seed(spark, tmp_path)
        v = t.delete(
            spark.createDataFrame([("d1", 99), ("nope", 1)],
                                  "day string, k int")
        )
        # d1 is rewritten (its partition was named by a key) but nothing
        # changes observationally; the unmatched partition is ignored
        assert t.manifest()["day=d2"] == 1
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        assert got == {
            ("d1", 1): "a", ("d1", 2): "b",
            ("d2", 3): "c", ("d3", 4): "z",
        }
        assert v == 2

    def test_delete_replay_is_fixed_point(self, spark, tmp_path):
        t = self._seed(spark, tmp_path)
        doomed = spark.createDataFrame([("d1", 1)], "day string, k int")
        t.delete(doomed)
        before = {(r.day, r.k): r.v for r in t.read().collect()}
        t.delete(doomed)
        assert {(r.day, r.k): r.v for r in t.read().collect()} == before

    def test_delete_missing_key_columns_rejected(self, spark, tmp_path):
        t = self._seed(spark, tmp_path)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="lacks key columns"):
            t.delete(spark.createDataFrame([("d1",)], "day string"))

    def test_delete_empty_table_is_noop(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        assert t.delete(
            spark.createDataFrame([("d1", 1)], "day string, k int")
        ) == 0

    def test_delete_where_prunes_and_keeps_null_condition_rows(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        t = self._mk(spark, tmp_path)
        t.upsert(
            spark.createDataFrame(
                [("d1", 1, "del", 1), ("d1", 2, None, 1),
                 ("d2", 3, "keep", 1), ("d3", 4, "del", 1)],
                "day string, k int, v string, seq int",
            )
        )
        v = t.delete_where(F.col("v") == "del")
        assert v == 2
        # d2 has no matching row: inherited untouched (not rewritten)
        assert t.manifest()["day=d2"] == 1
        assert t.manifest()["day=d1"] == 2
        got = {(r.day, r.k): r.v for r in t.read().collect()}
        # NULL condition keeps the row (SQL DELETE semantics)
        assert got == {("d1", 2): None, ("d2", 3): "keep"}
        assert "day=d3" not in t.manifest()  # fully emptied

    def test_delete_under_stable_partitions_locates_by_scan(
        self, spark, tmp_path
    ):
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
            ManifestSnapshotTable,
        )

        t = ManifestSnapshotTable(
            spark,
            str(tmp_path / "sp"),
            keys=["k"],
            order_cols=["seq"],
            partition_by=["day"],
            stable_partitions=True,
        )
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d2", 2, "b", 1), ("d3", 3, "c", 1),
        ]))
        t.delete(spark.createDataFrame([(2,)], "k int"))
        assert t.manifest() == {"day=d1": 1, "day=d3": 1}
        assert {r.k for r in t.read().collect()} == {1, 3}

    def test_delete_emptying_all_touched_partitions_with_stats(
        self, spark, tmp_path
    ):
        """Regression: a delete whose rewrite produces NO files (every
        touched partition fully emptied) must commit cleanly when
        stats_cols is configured — the stats pass has nothing to read."""
        t = self._mk(spark, tmp_path, stats_cols=["seq"])
        t.upsert(self._rows(spark, [("d1", 1, "a", 5), ("d2", 2, "b", 9)]))
        v = t.delete(
            spark.createDataFrame([("d1", 1)], "day string, k int")
        )
        assert v == 2
        assert "day=d1" not in t.manifest()
        assert t.fragment_stats()["day=d2"]["seq"] == [9, 9]  # inherited
        # the full-table predicate wipe (the docstring-advertised case)
        assert t.delete_where(F.lit(True)) == 3
        assert t.manifest() == {} and t.read() is None

    def test_delete_refreshes_zone_map_stats(self, spark, tmp_path):
        t = self._mk(spark, tmp_path, stats_cols=["k"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 9, "b", 1), ("d2", 5, "c", 1),
        ]))
        assert t.fragment_stats()["day=d1"]["k"] == [1, 9]
        t.delete(spark.createDataFrame([("d1", 9)], "day string, k int"))
        # the rewritten fragment's envelope shrinks; untouched inherited
        assert t.fragment_stats()["day=d1"]["k"] == [1, 1]
        assert t.fragment_stats()["day=d2"]["k"] == [5, 5]

    def test_matview_refresh_after_delete_matches_direct(
        self, spark, tmp_path
    ):
        """Deletes move fragment holders (or drop fragments); the
        incremental materialized view must converge either way."""
        from pyspark.sql import functions as F

        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.matview import (
            IncrementalAggView,
        )

        t = self._seed(spark, tmp_path)
        view = IncrementalAggView(
            spark,
            str(tmp_path / "mv"),
            t,
            group_cols=["grp"],
            measures=[("n", None, "count"), ("max_k", "k", "max")],
            prepare=lambda df: df.withColumn("grp", F.col("k") % 2),
        )
        view.refresh()
        # in-place delete: d1's holder moves → 1 fragment recomputed
        t.delete(spark.createDataFrame([("d1", 1)], "day string, k int"))
        info = view.refresh()
        assert (info["recomputed"], info["inherited"]) == (1, 2)
        # partition-dropping delete: fragment vanishes → full rebuild
        t.delete(spark.createDataFrame([("d2", 3)], "day string, k int"))
        info = view.refresh()
        assert info["total"] == 2
        direct = (
            t.read()
            .withColumn("grp", F.col("k") % 2)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.max("k").alias("max_k"))
        )
        assert {tuple(r) for r in view.read().collect()} == {
            tuple(r) for r in direct.collect()
        }

class TestManifestChangeFeed:
    """changes(v0, v1): keyed row diff between snapshots, read from
    ONLY the fragments whose manifest entry moved."""

    _mk = staticmethod(TestManifestSnapshotTable._mk)
    _rows = staticmethod(TestManifestSnapshotTable._rows)

    @staticmethod
    def _feed(t, a, b):
        return {
            (r._change_type, r.day, r.k, r.v)
            for r in t.changes(a, b).collect()
        }

    def test_insert_update_delete_all_reported(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d1", 2, "b", 1), ("d2", 3, "c", 1),
        ]))
        t.upsert(self._rows(spark, [
            ("d1", 1, "a2", 2),            # update
            ("d1", 9, "new", 2),           # insert
        ]))
        t.delete(spark.createDataFrame([("d1", 2)], "day string, k int"))
        assert self._feed(t, 1, 3) == {
            ("update_postimage", "d1", 1, "a2"),
            ("insert", "d1", 9, "new"),
            ("delete", "d1", 2, "b"),
        }
        # intermediate window: the delete hasn't happened yet
        assert self._feed(t, 2, 3) == {("delete", "d1", 2, "b")}

    def test_unchanged_rows_in_moved_fragments_not_emitted(
        self, spark, tmp_path
    ):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d1", 2, "b", 1)]))
        # rewrite d1 but change only k=1; k=2 is rewritten yet identical
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        assert self._feed(t, 1, 2) == {("update_postimage", "d1", 1, "a2")}

    def test_compact_produces_empty_feed(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1)]))
        t.upsert(self._rows(spark, [("d2", 2, "b", 2)]))
        v = t.compact()
        assert t.changes(2, v).count() == 0

    def test_matches_brute_force_snapshot_diff(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [
            ("d1", 0, "x", 1), ("d2", 1, "y", 1), ("d3", 2, "z", 1),
        ]))
        t.upsert(self._rows(spark, [("d2", 1, "y2", 2), ("d2", 5, "w", 2)]))
        t.delete(spark.createDataFrame([("d3", 2)], "day string, k int"))
        s0 = {(r.day, r.k): r.v for r in t.read(version=1).collect()}
        s1 = {(r.day, r.k): r.v for r in t.read(version=3).collect()}
        expect = (
            {("insert", d, k, s1[(d, k)]) for (d, k) in s1 if (d, k) not in s0}
            | {("delete", d, k, s0[(d, k)]) for (d, k) in s0 if (d, k) not in s1}
            | {("update_postimage", d, k, s1[(d, k)])
               for (d, k) in s1
               if (d, k) in s0 and s0[(d, k)] != s1[(d, k)]}
        )
        assert self._feed(t, 1, 3) == expect

    def test_additive_schema_evolution_in_feed(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d1", 2, "b", 1)]))
        widened = spark.createDataFrame(
            [("d1", 1, "a2", 2, 7.5)],
            "day string, k int, v string, seq int, extra double",
        )
        # additive widening is an explicit opt-in since the declared
        # schema landed (r10): refused without the flag
        import pytest as _pytest

        with _pytest.raises(ValueError, match="schema_evolution=True"):
            t.upsert(widened)
        t.upsert(widened, schema_evolution=True)
        got = {
            (r._change_type, r.day, r.k, r.v, r.extra)
            for r in t.changes(1, 2).collect()
        }
        assert got == {("update_postimage", "d1", 1, "a2", 7.5)}

    def test_version_order_enforced(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.upsert(self._rows(spark, [("d1", 1, "a", 1)]))
        import pytest as _pytest

        with _pytest.raises(ValueError, match="from_version < to_version"):
            t.changes(1, 1)

    def test_tail_changes_cursor_protocol(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        feed, cur = t.tail_changes(None)
        assert feed is None and cur == 0  # empty table
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 2, "b", 1)]))
        feed, cur = t.tail_changes(None)  # initial load: all inserts
        assert cur == 1
        assert self._set(feed) == {
            ("insert", "d1", 1, "a"), ("insert", "d2", 2, "b"),
        }
        feed, cur2 = t.tail_changes(cur)  # nothing new
        assert feed is None and cur2 == cur
        t.upsert(self._rows(spark, [("d1", 1, "a2", 2)]))
        t.delete(spark.createDataFrame([("d2", 2)], "day string, k int"))
        feed, cur3 = t.tail_changes(cur)
        assert cur3 == 3
        assert self._set(feed) == {
            ("update_postimage", "d1", 1, "a2"),
            ("delete", "d2", 2, "b"),
        }

    @staticmethod
    def _set(feed):
        return {
            (r._change_type, r.day, r.k, r.v) for r in feed.collect()
        }

    def test_tail_changes_zero_cursor_is_initial_load(self, spark, tmp_path):
        """Regression: the 0 cursor tail_changes hands out for an empty
        table must be pollable — the next poll is an initial load, not
        a crash."""
        t = self._mk(spark, tmp_path)
        _feed, cur = t.tail_changes(None)
        assert cur == 0
        t.upsert(self._rows(spark, [("d1", 1, "a", 1)]))
        feed, cur2 = t.tail_changes(cur)
        assert cur2 == 1
        assert self._set(feed) == {("insert", "d1", 1, "a")}

    def test_null_in_key_column_produces_no_phantom_changes(
        self, spark, tmp_path
    ):
        """Regression: a row with a NULL non-partition key column must
        pair its old and new copies across a fragment rewrite (null-
        safe key join) instead of emitting a phantom delete+insert."""
        t = self._mk(spark, tmp_path)
        t.upsert(
            spark.createDataFrame(
                [("d1", None, "nullk", 1), ("d1", 7, "x", 1)],
                "day string, k int, v string, seq int",
            )
        )
        # rewrite d1 touching only k=7; the NULL-key row is unchanged
        t.upsert(
            spark.createDataFrame(
                [("d1", 7, "x2", 2)], "day string, k int, v string, seq int"
            )
        )
        assert self._set(t.changes(1, 2)) == {
            ("update_postimage", "d1", 7, "x2"),
        }
        # and a real change to the NULL-key row IS reported, once
        t.upsert(
            spark.createDataFrame(
                [("d1", None, "nullk2", 3)],
                "day string, k int, v string, seq int",
            )
        )
        assert self._set(t.changes(2, 3)) == {
            ("update_postimage", "d1", None, "nullk2"),
        }


class TestManifestEscaping:
    def test_hive_special_chars_round_trip(self, spark, tmp_path):
        """Partition values Spark hive-escapes in dir names (':' etc.)
        must produce manifest fragments matching the dirs actually
        written — commit, read, and a second commit all work."""
        from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
            ManifestSnapshotTable,
        )

        t = ManifestSnapshotTable(
            spark,
            str(tmp_path / "esc"),
            keys=["slot", "k"],
            order_cols=["seq"],
            partition_by=["slot"],
        )
        rows = lambda d: spark.createDataFrame(  # noqa: E731
            d, "slot string, k int, v string, seq int"
        )
        t.upsert(rows([("10:30", 1, "a", 1), ("plain", 1, "b", 1)]))
        assert "slot=10%3A30" in t.manifest()
        t.upsert(rows([("10:30", 1, "a2", 2)]))  # re-read escaped holder
        got = {(r.slot, r.k): r.v for r in t.read().collect()}
        assert got == {("10:30", 1): "a2", ("plain", 1): "b"}


class TestTypeChangeIsRefused:
    """Pruned merges are additive-widening-only: a batch that COERCES a
    shared column's type (round-7 advice) is refused before anything is
    written — untouched partitions' old files keep the declared type,
    so the table stays readable at its last version."""

    _mk = staticmethod(TestPartitionPrunedMerge._mk)
    _rows = staticmethod(TestPartitionPrunedMerge._rows)

    def test_type_coercing_batch_keeps_table_readable(self, spark, tmp_path):
        import pytest

        t = self._mk(spark, tmp_path, keys=["day", "k"])
        t.upsert(self._rows(spark, [("d1", 1, "a", 1), ("d2", 1, "c", 1)]))
        flipped = spark.createDataFrame(
            [("d2", 1, "c2", "2")],
            "day string, k int, v string, seq string",  # seq int→string
        )
        for evolve in (False, True):
            with pytest.raises(ValueError, match="incompatible"):
                t.upsert(flipped, schema_evolution=evolve)
        # no commit landed; the table reads end-to-end at v1
        assert t.versions() == [1]
        got = {(r.day, r.k): (r.v, r.seq) for r in t.read().collect()}
        assert got == {("d1", 1): ("a", 1), ("d2", 1): ("c", 1)}

    def test_additive_widening_still_prunes(self, spark, tmp_path):
        """Refusing coercions must not disable pruning for the supported
        case — a purely additive new column leaves untouched
        partitions' files alone."""
        t = self._mk(spark, tmp_path, keys=["day", "k"])
        t.upsert(self._rows(spark, [
            ("d1", 1, "a", 1), ("d2", 1, "c", 1),
        ]))
        before = TestPartitionPrunedMerge._file_sig(t.path)
        t.upsert(spark.createDataFrame(
            [("d2", 1, "c2", 2, "x")],
            "day string, k int, v string, seq int, extra string",
        ), schema_evolution=True)
        # d1 files untouched → pruning still active
        TestPartitionPrunedMerge()._assert_untouched(t, before, ["day=d1"])


class TestChangeFeedZoneMapPruning:
    """`changes`/`tail_changes` with ``where=`` read the feed of the
    RANGE-FILTERED table, and the filter rides the zone maps: inside
    the moved fragments, files whose envelopes miss the range are
    skipped on manifest metadata alone (VERDICT r8 item 7)."""

    _mk = staticmethod(TestManifestSnapshotTable._mk)

    @staticmethod
    def _vrows(spark, data):
        return spark.createDataFrame(
            data, "day string, k int, v int, seq int"
        )

    def _build(self, spark, tmp_path):
        """v1: 100 keys in one day partition; v2: OPTIMIZE clustered on
        v (4 files over disjoint v ranges); v3: one upsert that updates
        k=5 (v 5→7, stays in [1,10]), k=3 (v 3→50, leaves the range)
        and k=90 (v 90→4, enters the range)."""
        t = self._mk(spark, tmp_path, stats_cols=["v"])
        t.upsert(self._vrows(
            spark, [("d1", k, k, 1) for k in range(1, 101)]
        ))
        t.compact(cluster_by=["v"], cluster_files=4)
        t.upsert(self._vrows(
            spark, [("d1", 5, 7, 2), ("d1", 3, 50, 2), ("d1", 90, 4, 2)]
        ))
        assert t.versions() == [1, 2, 3]
        return t

    def test_subset_feed_semantics(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        feed = t.changes(2, 3, where=[("v", 1, 10)])
        got = {(r._change_type, r.k, r.v) for r in feed.collect()}
        # k=5 updated within the range; k=3 left it (delete carries the
        # pre-image); k=90 entered it (insert carries the post-image);
        # every other in-range key is unchanged → absent from the feed
        assert got == {
            ("update_postimage", 5, 7),
            ("delete", 3, 3),
            ("insert", 90, 4),
        }

    def test_feed_skips_files_on_zone_maps(self, spark, tmp_path):
        t = self._build(spark, tmp_path)
        full = t.changes(2, 3)
        pruned = t.changes(2, 3, where=[("v", 1, 10)])
        n_full = len(set(full.inputFiles()))
        n_pruned = len(set(pruned.inputFiles()))
        # the old side holds 4 clustered files with disjoint v ranges;
        # the range touches at most 2 of them (v∈[1,10] plus the file
        # band that held v=90's pre-image... no — the OLD side only
        # needs envelopes intersecting [1,10]); the unfiltered feed
        # reads all 4
        assert n_pruned < n_full, (n_pruned, n_full)
        # concrete: old side drops at least 2 of the 4 clustered files
        assert n_full - n_pruned >= 2, (n_pruned, n_full)

    def test_tail_changes_where_initial_and_incremental(
        self, spark, tmp_path
    ):
        t = self._build(spark, tmp_path)
        # initial load at cursor None: the pruned snapshot, all inserts
        feed, cur = t.tail_changes(None, where=[("v", 1, 10)])
        assert cur == 3
        got = {(r._change_type, r.k, r.v) for r in feed.collect()}
        # post-v3 in-range rows: k=1..10 minus k=3 (now 50) minus k=5
        # (now 7 — still in) plus k=90 (now 4)
        expect_keys = {(k, k) for k in range(1, 11)} - {(3, 3), (5, 5)}
        expect_keys |= {(5, 7), (90, 4)}
        assert got == {("insert", k, v) for k, v in expect_keys}
        # caught-up poll: nothing new
        feed2, cur2 = t.tail_changes(cur, where=[("v", 1, 10)])
        assert feed2 is None and cur2 == 3
        # a fourth commit out of range: the subscriber sees nothing
        t.upsert(self._vrows(spark, [("d1", 60, 61, 3)]))
        feed3, cur3 = t.tail_changes(cur, where=[("v", 1, 10)])
        assert cur3 == 4
        assert feed3.count() == 0
