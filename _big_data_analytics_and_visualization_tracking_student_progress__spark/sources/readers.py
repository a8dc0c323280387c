"""Sources & sinks (SURVEY.md §2.1 S1-S7).

The reference composes openpyxl (Excel scan, pro.py:34-44), watchdog (a
directory watcher, pro.py:94-108), and a Kafka producer/consumer pair
(pro.py:85; con.py:14-21).  Spark-first equivalents:

- batch scans   → `spark.read` (parquet/csv/json; Excel gated behind an
                  optional dependency),
- the watcher   → the Structured Streaming **file source** (new files are
                  discovered per micro-batch; no thread choreography),
- Kafka         → `format("kafka")` source/sink builders (config only —
                  the driver environment has no broker, so these are
                  exercised by construction, not by a live round-trip).

Scale notes: the file-stream source lists the input directory every
trigger — at 100 TB keep per-directory file counts bounded (date-bucketed
subdirs) and set `maxFilesPerTrigger` so one micro-batch fits the
cluster.  All readers take an explicit schema in streaming mode (required
by Spark, and the right call at scale anyway: inference reads footers of
every file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader


# ---------------------------------------------------------------------------
# S1 — batch file scans
# ---------------------------------------------------------------------------
def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel scan (reference pro.py:34-44: header row 1, data rows 2+,
    all-empty rows skipped).  The reference's watcher accepts both
    ``.xlsx`` and legacy ``.xls`` (pro.py:99-108); this dispatches on
    the file's magic bytes — zip (``PK``) → the vendored stdlib xlsx
    parser (sources/xlsx.py), CFB (``D0CF11E0``) → the vendored BIFF8
    parser (sources/xls.py) — so both of the reference's input formats
    run with no optional dependency.  Column types are resolved per
    column (double / boolean when every non-null cell agrees, string
    otherwise — Excel numerics are doubles by format); the sheet is
    driver-localized, which matches the ingest shape: workbooks are
    small operational drops that immediately land in a distributed
    format (pro.py pushes rows to Kafka one by one; a 100 TB corpus
    never arrives as a spreadsheet).

    The frame is built from a ``pyarrow.Table`` typed by the resolved
    schema, so Spark holds the sheet as a JVM ``LocalRelation``: every
    action over it (the drop-folder ingest's row-hash collect and its
    changed-rows log append) reads JVM memory instead of running a
    Python worker over a pickled list.  Schema, values and therefore
    ``row_hash`` are exactly those of ``createDataFrame(rows,
    schema)`` (pinned by tests/test_excel_source.py), so a sheet parsed
    by either construction diffs to zero changed rows."""
    import pyarrow as pa

    from .xls import CFB_SIG, read_xls_rows
    from .xlsx import read_xlsx_rows

    with open(path, "rb") as fh:
        magic = fh.read(8)
    if magic.startswith(CFB_SIG):
        header, rows = read_xls_rows(path)
    else:
        header, rows = read_xlsx_rows(path)

    def col_type(i: int) -> str:
        vals = [r[i] for r in rows if r[i] is not None]
        if vals and all(isinstance(v, bool) for v in vals):
            return "boolean"
        if vals and all(
            isinstance(v, float) and not isinstance(v, bool) for v in vals
        ):
            return "double"
        return "string"

    types = [col_type(i) for i in range(len(header))]
    arrow_type = {"boolean": pa.bool_(), "double": pa.float64(),
                  "string": pa.string()}
    columns = [
        pa.array(
            [
                r[i] if r[i] is None or t != "string" or isinstance(r[i], str)
                else str(r[i])
                for r in rows
            ],
            arrow_type[t],
        )
        for i, t in enumerate(types)
    ]
    schema = ", ".join(
        f"`{name}` {t}" for name, t in zip(header, types)
    )
    table = pa.Table.from_arrays(columns, names=list(header))
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------------------------------
# S2 — streaming file source (the watcher, pro.py:94-108)
# ---------------------------------------------------------------------------
def file_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """New-file discovery per micro-batch — replaces the reference's
    watchdog observer thread.  `modified` files are NOT re-emitted (the
    file source tracks seen paths); the reference's whole-file reprocess
    on modify is covered by the CDC diff (operators/cdc.py) applied to a
    fresh snapshot drop."""
    reader: DataStreamReader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


_STREAM_SCHEMA_CACHE: dict[tuple[int, str], object] = {}


def events_stream_schema(spark: SparkSession | None = None,
                         path: str | None = None):
    """Schema for the events file stream.  File streams need an explicit
    schema, and fixture generations have shipped `ts` as INT64
    epoch-nanos AND as parquet timestamp[us] — so when (spark, path) are
    given, sniff the actual files (batch read, footer-only) instead of
    pinning one encoding (round-2 lesson).  The sniff is cached per
    (session, path) like datasets.load_table's — fixture files are
    immutable within a round, so repeat stream constructions skip the
    footer read.  Returns a StructType when sniffed, else the DDL-string
    default."""
    if spark is not None and path is not None:
        key = (id(spark), path)
        cached = _STREAM_SCHEMA_CACHE.get(key)
        if cached is not None:
            return cached
        try:
            schema = spark.read.parquet(path).schema
        except Exception:
            # unreadable encoding (e.g. TIMESTAMP(NANOS) rejected by the
            # reader) → caller falls back to the nanos-long legacy path
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            schema = spark.read.parquet(path).schema
        _STREAM_SCHEMA_CACHE[key] = schema
        return schema
    return EVENTS_STREAM_SCHEMA


def events_file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of datasets.load_table("events"): whatever the
    files' physical `ts` encoding (epoch-nanos long or timestamp[us]),
    the stream exposes `ts` (microsecond timestamp) + `ts_nanos`
    (epoch-nanos long).  Batch and stream must derive the SAME
    microsecond or availableNow oracles drift — both go through
    datasets.derive_event_time."""
    from ..datasets import _pin_utc, derive_event_time

    _pin_utc(spark)
    schema = events_stream_schema(spark, path)
    raw = file_stream(
        spark,
        path,
        schema,
        max_files_per_trigger=max_files_per_trigger,
    )
    return derive_event_time(raw)


# ---------------------------------------------------------------------------
# S3/S4 — Kafka sink / source (pro.py:13-24,85; con.py:14-21)
# ---------------------------------------------------------------------------
def kafka_json_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source with the reference consumer's posture (earliest
    offsets, con.py:17; replay T5).  Offset tracking moves from manual
    batch commits (con.py:79-83) to the streaming checkpoint — the same
    at-least-once + idempotent-sink = effectively-once contract (T2)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def parse_kafka_json(raw: DataFrame, schema: str) -> DataFrame:
    """JSON deserialize (con.py:20) + event-time surfacing.  Absent JSON
    keys become NULL columns — exactly the reference's ragged-message
    semantics (pro.py:76 drops empty fields; con.py:25-29 checks
    presence).  The broker timestamp is kept alongside the payload's own
    event time rather than overwriting it (the reference's con.py:35-36
    overwrite quirk, documented not reproduced)."""
    return raw.select(
        F.col("timestamp").alias("broker_ts"),
        F.from_json(F.col("value").cast("string"), schema).alias("j"),
    ).select("broker_ts", "j.*")


def kafka_json_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """JSON-serialize every column into the message value (pro.py:23,
    79-82) and hand the stream to the Kafka sink.  Returns the unstarted
    writer so callers own trigger/lifecycle."""
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


def read_json_quarantined(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON scan split into (good, quarantine): malformed
    lines land in `_corrupt_record` instead of failing the job or being
    silently dropped — the durable version of the reference's
    log-and-skip on unparseable rows (con.py:65-66).  Returns the clean
    frame (without the corrupt column) and the quarantined raw lines.

    One scan feeds both frames; at scale write the quarantine side to
    its own dir and alert on its row rate."""
    full_schema = schema.rstrip() + ", _corrupt_record string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # Spark requires a materialization barrier before filtering on
        # the corrupt column (SPARK-21610: referencing only the corrupt
        # column in a filter over the raw scan is disallowed).
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return good, quarantine
