"""File-based streaming sources.

The reference's only source is Kafka (``main.py:13-32``); for local,
broker-less execution and deterministic tests the engine supports any
Spark file stream (parquet/json/csv) with an explicit schema — the
idiomatic replacement being a parquet directory replayed in
modification-time order.

Tests pin ``maxFilesPerTrigger=1``, one fixture file per micro-batch,
so watermark progression (and late-row dropping) between files is
observable and deterministic — SURVEY §5.2. The reference job sizes
its triggers to its cores instead (``jobs.files_per_trigger``), so a
backlog drains in ⌈files ÷ cores⌉ micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_json_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """JSON-lines file stream — format parity with the reference's
    ``'format' = 'json'`` sources (main.py:25)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def stream_csv_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV file stream with an explicit schema (streams never infer)."""
    reader = spark.readStream.schema(schema).option("header", header)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Batch CSV ingest split into (good_rows, quarantined_rows).

    PERMISSIVE parsing keeps malformed lines instead of dropping
    (DROPMALFORMED) or aborting (FAILFAST) — at ingest scale a handful
    of bad lines must neither kill the job nor vanish silently. The
    raw text of each bad line lands in ``_corrupt_record`` for the
    quarantine sink; good rows come back schema-clean. The parsed
    frame is cached: Spark disallows plans that reference ONLY the
    internal corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN), and the cache also lets the good and quarantine
    sides share one parse of the files instead of two.
    """
    corrupt = "_corrupt_record"
    # build a fresh StructType — StructType.add mutates the receiver
    full = StructType(
        list(schema.fields) + [StructField(corrupt, StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .csv(path)
        .cache()
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return good, bad
