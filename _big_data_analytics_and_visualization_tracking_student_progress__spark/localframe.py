"""DataFrames for bounded driver-local control data: one partition,
or none at all.

`spark.createDataFrame(list, ...)` parallelizes the list across
`defaultParallelism` slices, so materializing a 1-row broadcast frame
(centroid tables, PQ codebooks, query-term fan-outs) or a collected
bounded result launches one Python-worker task PER CORE just to
serialize a handful of rows — measured 0.43 s vs 0.30 s per
materialization at local[32] (r14, OPTIMIZATION_r14.md).  Routing the
same rows through an explicit single-slice parallelize keeps the
DataFrame (schema, values, semantics) identical and runs one task.

An EMPTY frame needs no task at all, yet `createDataFrame` over an
empty list is still a Python-built RDD, so collecting it launches a
Spark job with Python workers to return nothing.  `empty_frame` builds the same
schema as an empty Arrow table, a local relation that collects
without a job.

Leaf module: imports nothing from the package, so any operator or
query module can use it without cycles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def empty_frame(spark: SparkSession, schema: str | StructType) -> DataFrame:
    """A zero-row DataFrame of ``schema`` (a DDL string or StructType),
    each field's nullability kept, that collects without a Spark job."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table())


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """`spark.createDataFrame(rows, schema)` for BOUNDED control data,
    in ONE partition.  ``rows`` is a list (or iterable) of
    Row/tuple/dict; ``schema`` a DDL string, StructType, or column-name
    list, exactly as `createDataFrame` accepts.  Empty input needs a DDL
    string or StructType and builds no partition (`empty_frame`).
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        return empty_frame(spark, schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
