"""Custom Python DataSource (Spark 4 DataSource API): a deterministic
synthetic-events generator — the dbgen pattern as a first-class source.

Demonstrates the engine's source EXTENSION point: new sources plug in as
pure Python classes (batch here; the same API takes streaming readers),
planned and parallelized by Spark — each `InputPartition` carries a
disjoint id range, so generation scales linearly with no input files, no
driver bottleneck, and no shuffle.

Every generated column is a pure integer function of the row id
(Knuth-hash value, modular user/type assignment), so any engine can
reproduce the dataset exactly — which is how the DuckDB oracle verifies
a query over this source row-for-row (generate_series twin).

The classes are built inside a factory so cloudpickle serializes them BY
VALUE: executors never need this package importable (the driver process
may run from any working directory — same discipline as every Arrow UDF
in this repo).
"""

from __future__ import annotations

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
KNUTH = 2654435761  # 2^32 * golden-ratio conjugate, classic integer hash


def make_synthetic_source():
    """Build the DataSource class in function scope (pickle-by-value)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    event_types = EVENT_TYPES
    knuth = KNUTH

    class SyntheticEventsReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 10_000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            step = max(1, self.n // self.parts)
            bounds = list(range(0, self.n, step)) + [self.n]
            return [
                InputPartition((lo, hi))
                for lo, hi in zip(bounds, bounds[1:])
                if hi > lo
            ]

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                yield (
                    i,
                    i % 97,
                    event_types[i % 5],
                    ((i * knuth) % 100_000) / 100.0,
                )

    class SyntheticEvents(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_events"

        def schema(self) -> str:
            return (
                "event_id bigint, user_id bigint, etype string, value double"
            )

        def reader(self, schema):
            return SyntheticEventsReader(self.options)

    return SyntheticEvents


def register_synthetic_source(spark) -> None:
    """Idempotent registration (re-registering replaces)."""
    spark.dataSource.register(make_synthetic_source())
