"""Spark job counts of the grade-ingest write path, pinned.

A write that launches an extra job costs a scheduling round trip and,
for a Python-built input, a Python-worker pass — the dominant cost of a
small commit — yet leaves every result unchanged, so no correctness
test notices it.  Job counts carry no timing noise: each op below runs
under its own Spark job group and `statusTracker` counts the jobs the
group launched (no event log needed).  The bounds are the counts the
engine issues today; an op that needs more jobs fails here.

The table mirrors the ingest shape: keyed (term, student_id,
course_id), term-partitioned, zone maps and blooms on student_id, fed
by xlsx drops through `DropIngestor`, corrected by `merge_into` from a
``createDataFrame(list)`` source, withdrawn from by `delete_dv`, with an
`IncrementalAggView` refreshed after each write.  A zone-map-pruned
`read_where` point read and three metadata-only commits (`restore`,
`widen_column`, `drop_constraint`) are pinned on the same table, and
so is the number of py4j commands the warm point read sends — the
driver-side planning cost of a short read, also free of timing noise.

The serving side is pinned too: `render_dashboard` collects its five
panels on driver threads, and the threads' jobs must still land in the
caller's job group, so the dashboard's count is pinned exactly — a
thread that dropped the group would leave its jobs uncounted.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import types as T

from _big_data_analytics_and_visualization_tracking_student_progress__spark.localframe import (
    empty_frame,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.manifest_write import (
    _evaluate_once,
    _python_built,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.matview import (
    IncrementalAggView,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.collect import (
    collect_concurrently,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.serving.report import (
    render_dashboard,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.watcher import (
    DropIngestor,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xlsx import (
    write_minimal_xlsx,
)

from .conftest import SF_SMALL

HEADER = ["term", "student_id", "course_id", "grade"]
SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("student_id", T.StringType()),
    T.StructField("course_id", T.StringType()),
    T.StructField("grade", T.DoubleType()),
    T.StructField("ingest_seq", T.IntegerType()),
])

# upper bounds, one per op kind; before write inputs were evaluated
# once, sheets were diffed on the driver, string zone maps came from
# footers and the DV count-back was fused, the counts for the first
# four were 20, 13, 9 and 6.  The first drop of two sheets and the
# zone-map-pruned point read are pinned at their counts, and the
# metadata-only commits read and write manifests only, so they launch
# no job at all.  Reading the changed-rows log and the view's previous
# partials with their recorded schemas, and taking the partials'
# partition combos on the driver, cut the drops by one job each (from
# 10 and 9) and the refresh by three (from 6).  Reading the deletion
# vectors with their fixed schema cut the point read from 3 to 2 (it
# ran one schema-inference job per vector holder).
MAX_JOBS = {
    "reupload": 8,
    "merge_into": 10,
    "delete_dv": 7,
    "refresh": 3,
    "first_drop": 9,
    "point_read": 2,
    "restore": 0,
    "widen_column": 0,
    "drop_constraint": 0,
}


def _sheet(term, bump=()):
    return [
        [term, f"S{s:03d}", f"C{c}", float((s * 7 + c) % 10) + (s in bump)]
        for s in range(20)
        for c in range(3)
    ]


def _round_trips(fn) -> int:
    """Number of py4j commands the driver sends while ``fn`` runs,
    counted at the one method every command goes through.  Memory
    commands are left out: they release proxies of Java objects that
    earlier code dropped, at whatever point py4j gets round to it."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    send = ClientServerConnection.send_command
    n = 0

    def counted(self, command):
        nonlocal n
        n += not command.startswith(MEMORY_COMMAND_NAME)
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        ClientServerConnection.send_command = send
    return n


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` launches, counted under a fresh job
    group once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def counts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("job_counts")
    drops = root / "drops"
    drops.mkdir()
    table = ManifestSnapshotTable(
        spark,
        str(root / "table"),
        keys=["term", "student_id", "course_id"],
        order_cols=["ingest_seq"],
        partition_by=["term"],
        stats_cols=["student_id"],
        bloom_cols=["student_id"],
    )
    view = IncrementalAggView(
        spark,
        str(root / "view"),
        table,
        group_cols=["term"],
        measures=[("n", None, "count"), ("avg_grade", "grade_dec", "avg")],
        prepare=lambda df: df.withColumn(
            "grade_dec", df["grade"].cast("decimal(4,1)")
        ),
    )
    ing = DropIngestor(spark, str(drops), str(root / "state"), table)
    for term in ("t1", "t2"):
        write_minimal_xlsx(str(drops / f"{term}.xlsx"), HEADER, _sheet(term))
    out = {"first_drop": _jobs(spark, ing.process_once)}
    view.refresh()

    write_minimal_xlsx(
        str(drops / "t1.xlsx"), HEADER, _sheet("t1", bump={3, 11})
    )
    out["reupload"] = _jobs(spark, ing.process_once)
    out["refresh"] = _jobs(spark, view.refresh)
    src = spark.createDataFrame(
        [("t2", f"S{s:03d}", "C0", 9.5, 9) for s in range(5)], SCHEMA
    )
    out["merge_into"] = _jobs(spark, lambda: table.merge_into(src))
    view.refresh()
    keys = spark.createDataFrame(
        [("t1", f"S{s:03d}", "C1") for s in range(4)],
        "term string, student_id string, course_id string",
    )
    out["delete_dv"] = _jobs(spark, lambda: table.delete_dv(keys))

    # the pinned ops still did their work
    got = {
        (r["term"], r["student_id"], r["course_id"]): r["grade"]
        for r in table.read().collect()
    }
    assert len(got) == 120 - 4
    assert got[("t1", "S003", "C0")] == _sheet("t1", bump={3})[9][3]
    assert got[("t2", "S004", "C0")] == 9.5
    assert ("t1", "S000", "C1") not in got

    out["point_read"] = _jobs(
        spark,
        lambda: table.read_where("student_id", "S003", "S003")[0].collect(),
    )
    # warm: the job-count read above already resolved every scan
    out["point_read_round_trips"] = _round_trips(
        lambda: table.read_where("student_id", "S003", "S003")[0].collect()
    )
    out["restore"] = _jobs(spark, lambda: table.restore(table.versions()[-1]))
    out["widen_column"] = _jobs(
        spark, lambda: table.widen_column("ingest_seq", "bigint")
    )
    table.add_constraint("grade_known", "grade IS NOT NULL")
    out["drop_constraint"] = _jobs(
        spark, lambda: table.drop_constraint("grade_known")
    )
    assert table.table_constraints() == {}
    assert dict(table.table_schema())["ingest_seq"] == "bigint"
    return out


@pytest.mark.parametrize("op", sorted(MAX_JOBS))
def test_write_path_job_count(counts, op):
    # a zero bound pins "no job"; any other op must launch one, or the
    # counter is not seeing its jobs
    assert (counts[op] > 0 or not MAX_JOBS[op]) and (
        counts[op] <= MAX_JOBS[op]
    ), (
        f"{op} launched {counts[op]} Spark jobs, bound {MAX_JOBS[op]}: "
        f"all counts {counts}"
    )


# py4j commands the driver sends for one warm zone-map-pruned point
# read, build and collect together.  Round trips carry no timing noise
# and are the driver's share of a short read: before each published
# holder version's aligned scan and deletion-vector frame were
# memoized on the handle, the same read sent 455.
POINT_READ_ROUND_TRIPS = 143


def test_point_read_round_trips(counts):
    n = counts["point_read_round_trips"]
    assert 0 < n <= POINT_READ_ROUND_TRIPS, (
        f"a warm point read sent {n} py4j commands, bound "
        f"{POINT_READ_ROUND_TRIPS}"
    )


# jobs of one warm `render_dashboard` over SF_SMALL, the same count as
# when its five panels were collected one after another
DASHBOARD_JOBS = 11


def test_dashboard_jobs_stay_in_the_callers_group(spark):
    render_dashboard(spark, SF_SMALL)  # first call fills the schema caches
    n = _jobs(spark, lambda: render_dashboard(spark, SF_SMALL))
    assert n == DASHBOARD_JOBS, (
        f"render_dashboard launched {n} jobs under the caller's job group, "
        f"pinned at {DASHBOARD_JOBS}: fewer means a panel's jobs left the group"
    )


def test_collect_concurrently_keeps_input_order(spark):
    frames = [spark.range(i, i + 1 + i % 2) for i in range(6)]
    got = collect_concurrently(frames)
    assert [[r.id for r in rows] for rows in got] == [
        list(range(i, i + 1 + i % 2)) for i in range(6)
    ]
    assert collect_concurrently([]) == []


def test_collect_concurrently_raises_a_frames_error(spark):
    frames = [
        spark.range(3),
        spark.range(1).selectExpr("raise_error('panel failed') AS x"),
        spark.range(2),
    ]
    with pytest.raises(Exception, match="panel failed"):
        collect_concurrently(frames)


def test_only_python_built_inputs_are_checkpointed(spark, tmp_path):
    """The evaluate-once rule reads only the input's plan: a frame a
    Python worker produces (also under further transformations) is
    checkpointed once; a file scan, an Arrow-built frame and an already
    checkpointed frame pass through untouched."""
    import pyarrow as pa

    listed = spark.createDataFrame([("a", 1), ("b", 2)], "s string, n int")
    assert _python_built(listed)
    assert _python_built(listed.filter("n > 1").join(listed, "s"))
    once = _evaluate_once(listed)
    assert not _python_built(once)
    assert sorted(once.collect()) == sorted(listed.collect())
    assert _evaluate_once(once) is once
    arrow = spark.createDataFrame(
        pa.table({"s": ["a"], "n": pa.array([1], pa.int32())}), "s string, n int"
    )
    assert _evaluate_once(arrow) is arrow
    listed.write.parquet(str(tmp_path / "p"))
    scan = spark.read.parquet(str(tmp_path / "p"))
    assert _evaluate_once(scan) is scan


_EMPTY_STRUCT = T.StructType([
    T.StructField("k", T.LongType(), nullable=False),
    T.StructField("b", T.StringType()),
    T.StructField("v", T.ArrayType(T.DoubleType(), containsNull=False)),
])


@pytest.mark.parametrize(
    "schema, want",
    [
        (
            "a int, b string, v array<double>",
            T.StructType([
                T.StructField("a", T.IntegerType()),
                T.StructField("b", T.StringType()),
                T.StructField("v", T.ArrayType(T.DoubleType())),
            ]),
        ),
        (_EMPTY_STRUCT, _EMPTY_STRUCT),
    ],
    ids=["ddl", "struct"],
)
def test_empty_frame_runs_no_job(spark, schema, want):
    """A zero-row frame collects without a Spark job, from a DDL string
    or a StructType, and keeps each field's nullability (a list-built
    empty frame launches one job with Python workers to return
    nothing)."""
    df = empty_frame(spark, schema)
    assert df.schema == want
    assert _jobs(spark, df.collect) == 0
    assert df.collect() == []
