"""Partition evolution (`compact(partition_by=…)`) — the Delta/Iceberg
lifecycle verb that re-partitions an existing table WITHOUT rewriting
history: one full rewrite (which compaction pays anyway) carries the
transition, old snapshots keep their manifests and layouts, and every
read path crosses the boundary through each version's own fragment
names.

Pinned semantics: content is observationally unchanged; `read(version=…)`
and `read_as_of` resolve pre-evolution snapshots under the OLD scheme;
`changes()` across the boundary emits an empty feed for a pure
evolution; later pruned commits write under the NEW scheme only;
handles still configured with the old scheme are refused at their next
commit (reads stay fine); `generated_partitions` lets the new scheme
derive a partition column the data never carried, enforced on later
writes exactly like a creation-time declaration."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="pevo_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, root, name="t", **kw):
    base = dict(
        keys=["day", "k"], order_cols=["seq"], partition_by=["day"],
        stable_partitions=True,
    )
    base.update(kw)
    return ManifestSnapshotTable(spark, os.path.join(root, name), **base)


def _seed(spark, t):
    return t.upsert(
        spark.createDataFrame(
            [(0, 1, 1.0, 1), (5, 2, 2.0, 1), (10, 3, 3.0, 1), (15, 4, 4.0, 1)],
            "day int, k int, v double, seq int",
        )
    )


def _state(t, version=None):
    df = t.read(version=version)
    return sorted((r.day, r.k, r.v) for r in df.collect())


def test_evolution_preserves_content_and_history(spark, root):
    t = _mk(spark, root)
    v1 = _seed(spark, t)
    before = _state(t)
    v2 = t.compact(
        partition_by=["month"],
        generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
    )
    assert v2 == v1 + 1
    assert _state(t) == before                      # observationally id
    assert _state(t, version=v1) == before          # time travel crosses
    doc = t._manifest_doc()
    assert doc["partition_by"] == ["month"]
    assert set(doc["partitions"]) == {"month=0", "month=1"}
    # the OLD snapshot still resolves through its own day= layout
    old_doc = t._manifest_doc(v1)
    assert old_doc["partition_by"] == ["day"]
    assert all(f.startswith("day=") for f in old_doc["partitions"])


def test_change_feed_across_the_boundary(spark, root):
    t = _mk(spark, root)
    v1 = _seed(spark, t)
    # evolving to an EXISTING column adds no data → pure layout change,
    # the keyed diff reconciles the renamed fragments to an empty feed
    v2 = t.compact(partition_by=["k"])
    assert t.changes(v1, v2).count() == 0
    # evolving WITH a generated column materializes new data — the feed
    # reports it, exactly like an add_column backfill touching a row
    v3 = t.compact(
        partition_by=["month"],
        generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
    )
    rows = sorted(
        (r._change_type, r.k, r.month) for r in t.changes(v2, v3).collect()
    )
    assert rows == [
        ("update_postimage", 1, 0),
        ("update_postimage", 2, 0),
        ("update_postimage", 3, 1),
        ("update_postimage", 4, 1),
    ]


def test_later_writes_use_new_scheme_and_derive(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    t.compact(
        partition_by=["month"],
        generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
    )
    # batch omits month → derived; lands in the right new-scheme frag
    t.upsert(
        spark.createDataFrame(
            [(25, 9, 9.0, 1)], "day int, k int, v double, seq int"
        )
    )
    doc = t._manifest_doc()
    assert "month=2" in doc["partitions"]
    assert (25, 9, 9.0) in _state(t)
    # a batch carrying a WRONG month value is refused (same observe
    # gate as creation-time generated partitions)
    with pytest.raises(ValueError, match="declared derivation"):
        t.upsert(
            spark.createDataFrame(
                [(7, 30, 8, 8.0, 1)],
                "month int, day int, k int, v double, seq int",
            )
        )


def test_stale_handle_refused_at_commit_but_reads_fine(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    before = _state(t)
    t.compact(
        partition_by=["month"],
        generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
    )
    stale = _mk(spark, root)  # still configured partition_by=["day"]
    assert sorted((r.day, r.k, r.v) for r in stale.read().collect()) == before
    with pytest.raises(ValueError, match="partition evolution"):
        stale.upsert(
            spark.createDataFrame(
                [(1, 9, 9.0, 1)], "day int, k int, v double, seq int"
            )
        )
    # a handle built with the CURRENT scheme commits fine
    fresh = _mk(spark, root, partition_by=["month"])
    fresh.upsert(
        spark.createDataFrame(
            [(2, 25, 9, 9.0, 1)], "month int, day int, k int, v double, seq int"
        )
    )
    assert (25, 9, 9.0) in _state(fresh)
    # an unpartitioned table records the scheme [] — a scheme like any
    # other, so a mismatch is refused in both directions
    flat = _mk(spark, root, name="flat", partition_by=())
    _seed(spark, flat)
    with pytest.raises(ValueError, match="partition evolution"):
        _seed(spark, _mk(spark, root, name="flat"))  # day handle, [] table
    with pytest.raises(ValueError, match="partition evolution"):
        _seed(spark, _mk(spark, root, partition_by=()))  # [] handle
    assert flat.versions() == [1] and _state(flat) == before
    assert (25, 9, 9.0) in _state(fresh)


def test_read_as_of_crosses_the_boundary(spark, root):
    import time

    t = _mk(spark, root)
    _seed(spark, t)
    before = _state(t)
    ts_before = time.time()
    time.sleep(0.05)
    t.compact(
        partition_by=["month"],
        generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
    )
    t.delete(spark.createDataFrame([(0, 1)], "day int, k int"))
    got = sorted(
        (r.day, r.k, r.v) for r in t.read_as_of(ts_before).collect()
    )
    assert got == before


def test_evolution_to_existing_column(spark, root):
    # promoting an existing data column to the partition scheme needs
    # no derivation at all
    t = _mk(spark, root)
    _seed(spark, t)
    before = _state(t)
    t.compact(partition_by=["k"])
    assert _state(t) == before
    assert set(t._manifest_doc()["partitions"]) == {
        "k=1", "k=2", "k=3", "k=4",
    }


def test_evolution_refusals(spark, root):
    t = _mk(spark, root)
    _seed(spark, t)
    with pytest.raises(ValueError, match="requires partition_by"):
        t.compact(generated_partitions={"month": "day"})
    with pytest.raises(ValueError, match="no generated_partitions"):
        t.compact(partition_by=["month"])
    with pytest.raises(ValueError, match="not in"):
        t.compact(
            partition_by=["month"],
            generated_partitions={"other": "day"},
        )
    with pytest.raises(ValueError, match="already exists"):
        t.compact(
            partition_by=["day"],
            generated_partitions={"day": "day"},
        )
    # keyed (non-stable) tables must keep partition cols inside the key
    strict = ManifestSnapshotTable(
        spark, os.path.join(root, "strict"), keys=["day", "k"],
        order_cols=["seq"], partition_by=["day"],
    )
    strict.upsert(
        spark.createDataFrame(
            [(0, 1, 1.0, 1)], "day int, k int, v double, seq int"
        )
    )
    with pytest.raises(ValueError, match="inside the key"):
        strict.compact(
            partition_by=["month"],
            generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
        )
    # a failed evolution leaves the handle on the old scheme
    assert t.partition_by == ["day"]
    t.upsert(
        spark.createDataFrame(
            [(3, 9, 9.0, 1)], "day int, k int, v double, seq int"
        )
    )


def test_retention_sweeps_across_the_boundary(spark, root):
    """Vacuum interplay: after an evolution, the old-scheme version
    dirs are ordinary holders — retention demotes them while any
    retained manifest still references their files and sweeps them
    once nothing does, exactly like same-scheme history.  Reads stay
    correct throughout."""
    t = _mk(spark, root, keep_versions=1)
    _seed(spark, t)
    t.compact(
        partition_by=["month"],
        generated_partitions={"month": "CAST(day DIV 10 AS INT)"},
    )
    before = _state(t)
    # the evolution rewrote everything, so retention (keep_versions=1)
    # already swept the old-scheme dirs — nothing dangles
    assert len(t.versions()) == 1
    assert _state(t) == before
    # churn one bucket: the untouched buckets' holder (the evolution
    # version) must survive as a holder, and reads stay exact
    t.upsert(
        spark.createDataFrame(
            [(0, 1, 99.0, 9)], "day int, k int, v double, seq int"
        )
    )
    assert len(t.versions()) == 1  # keep_versions=1
    got = dict(((r[0], r[1]), r[2]) for r in _state(t))
    assert got[(0, 1)] == 99.0 and got[(15, 4)] == 4.0
