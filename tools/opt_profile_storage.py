"""Per-method wall profile of the ManifestSnapshotTable commit path
while running one registered query end-to-end — answers "where do the
storage-lifecycle bench seconds actually go" (guide §1: measure first).

Usage: python tools/opt_profile_storage.py <query_name> [reps]
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TIMES: dict[str, list[float]] = defaultdict(list)
STACK: list[str] = []


def timed(cls, name):
    orig = getattr(cls, name)

    @functools.wraps(orig)
    def wrap(*a, **kw):
        STACK.append(name)
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            dt = time.perf_counter() - t0
            STACK.pop()
            if name not in STACK:  # don't double-count recursion
                TIMES[name].append(dt)

    setattr(cls, name, wrap)


def timed_txn(cls):
    """Time every commit transaction in three rows: ``_txn.claim`` (its
    entry: claim, claim marker, basis read), ``_txn.publish`` (its exit:
    ``_SUCCESS`` and retention vacuum, or the abandon) and ``_txn`` (the
    whole span, the verb's body included)."""
    orig = cls._txn

    @functools.wraps(orig)
    @contextlib.contextmanager
    def wrap(self, op):
        cm = orig(self, op)
        t0 = time.perf_counter()
        tx = cm.__enter__()
        t1 = time.perf_counter()
        exc = (None, None, None)
        try:
            yield tx
        except BaseException:
            exc = sys.exc_info()
        t2 = time.perf_counter()
        try:
            if not cm.__exit__(*exc) and exc[1] is not None:
                raise exc[1]
        finally:
            t3 = time.perf_counter()
            TIMES["_txn.claim"].append(t1 - t0)
            TIMES["_txn.publish"].append(t3 - t2)
            TIMES["_txn"].append(t3 - t0)

    cls._txn = wrap


def main() -> None:
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
        ManifestSnapshotTable,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.registry import (
        all_queries,
    )
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.session import (
        get_spark,
    )

    for m in [
        "upsert",
        "merge_into",
        "delete",
        "delete_where",
        "delete_dv",
        "delete_where_dv",
        "update_where",
        "compact",
        "read",
        "read_where",
        "read_where_all",
        "read_where_eq",
        "read_partitions",
        "changes",
        "tail_changes",
        "_compute_stats_both",
        "_compute_blooms",
        "_written_fragments",
        "_read_fragments",
        "_manifest_doc",
        "_conform_batch",
        "_apply_generated",
    ]:
        timed(ManifestSnapshotTable, m)
    timed_txn(ManifestSnapshotTable)

    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("opt-profile", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    fn = all_queries()[name].fn
    # warmup
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    TIMES.clear()
    walls = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    print(f"\n{name}: walls={['%.3f' % w for w in walls]} (after warmup)")
    print(f"{'method':28s} {'calls':>5s} {'total_s':>8s} {'mean_s':>8s}")
    for m, ts in sorted(TIMES.items(), key=lambda kv: -sum(kv[1])):
        print(
            f"{m:28s} {len(ts):>5d} {sum(ts):>8.3f} {sum(ts)/len(ts):>8.3f}"
        )
    covered = sum(sum(ts) for ts in TIMES.values())
    print(f"{'(sum of tops)':28s} {'':>5s} {covered:>8.3f}  vs wall {sum(walls):.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
