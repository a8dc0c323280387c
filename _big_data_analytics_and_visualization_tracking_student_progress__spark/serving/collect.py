"""Collect independent, already-built DataFrames concurrently.

A dashboard's panels are independent queries over the same tables.
Collected one after another, each panel's jobs wait for the previous
panel's, and a panel whose scan is a single task (a small table is one
parquet row group) leaves every other core idle for its whole run.
Submitted from one driver thread each, the panels' jobs share the
scheduler (FIFO: a later job's tasks take the cores an earlier one
leaves free), so a render takes about as long as its slowest panel
rather than the sum of all of them.  The jobs, stages and tasks are
the same ones; only their overlap changes.

Only the collects run on the pool.  Callers build their frames on
their own thread first: the registry builders and `load_table`'s
schema caches are not made for concurrent use.

Each thread runs its call through `pyspark.inheritable_thread_target`,
which hands it a copy of the caller's Spark local properties — job
group, job description, scheduler pool.  In pinned-thread mode (the
default) a py4j worker thread does not inherit them, so without the
wrapper the threads' jobs would fall out of the caller's job group.

Leaf module: imports nothing from the package, so operator and query
modules can use it without cycles.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def run_concurrently(spark: SparkSession, calls: Sequence[Callable]) -> list:
    """Run each zero-argument call on its own driver thread, carrying
    the caller's Spark local properties, and return the results in
    input order.  Every call runs to its end; then the exception of the
    first call (in input order) that raised is raised here."""
    # wrapped here, on the caller's thread: each wrapper captures its
    # own copy of the local properties, so one thread's SQL execution
    # id never leaks into another's jobs
    targets = [inheritable_thread_target(spark)(call) for call in calls]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(target) for target in targets]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        raise errors[0]
    return [f.result() for f in futures]


def collect_concurrently(frames: Sequence[DataFrame]) -> list[list]:
    """``[df.collect() for df in frames]``, with the collects overlapped
    on driver threads (see the module docstring)."""
    if not frames:
        return []
    return run_concurrently(
        frames[0].sparkSession, [df.collect for df in frames]
    )
