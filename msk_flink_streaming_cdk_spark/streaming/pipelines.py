"""The reference's end-to-end streaming job, Spark-first.

Reference shape (``/root/reference/PythonKafkaSink/main.py:146-149``):
one StatementSet executing two INSERTs — Q1 → Kafka alert topic,
Q2 → partitioned S3 — over a shared Kafka scan with a 5s watermark.

Spark analogue: the same Q1/Q2 transforms (operators/reference.py) with
``withWatermark`` in **append** output mode (emission parity with Flink
group windows, SURVEY §2.7 W6), run as two StreamingQueries with
independent checkpoints. Offsets across sinks are independently
committed (documented delta from Flink's single-job atomicity — SURVEY
§7 risk 4).

Each query's stateful shuffle is sized to the cores that run it
(``state_partitions``) when the query first starts; Spark freezes that
count in the checkpoint, so a restart keeps it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.reference import q1_high_temp_alerts, q2_windowed_avg

SinkFn = Callable[[DataFrame], object]  # DataFrame -> StreamingQuery

REFERENCE_WATERMARK = "5 seconds"  # main.py:18


def q1_stream(readings: DataFrame, watermark: str = REFERENCE_WATERMARK, **kw) -> DataFrame:
    return q1_high_temp_alerts(readings, watermark=watermark, **kw)


def q2_stream(readings: DataFrame, watermark: str = REFERENCE_WATERMARK, **kw) -> DataFrame:
    return q2_windowed_avg(readings, watermark=watermark, **kw)


def state_partitions(spark: SparkSession) -> int:
    """State stores per stateful operator: one per core running the job
    (``local[n]`` locally, total executor cores on a cluster). Every
    store is loaded and committed each micro-batch, so more stores than
    cores only adds commit work; AQE does not coalesce a stateful
    shuffle the way it does a batch one."""
    return spark.sparkContext.defaultParallelism


def run_reference_pipelines(
    readings: DataFrame,
    q1_sink: SinkFn,
    q2_sink: SinkFn,
    watermark: str = REFERENCE_WATERMARK,
    q1_window: str = "30 seconds",
    q2_window: str = "60 seconds",
) -> list:
    """Start both reference pipelines; returns the StreamingQueries.

    ``spark.sql.shuffle.partitions`` is set to ``state_partitions`` only
    around the two ``start()`` calls: each query clones the session conf
    when it starts, and the caller's value is restored afterwards.
    """
    conf = readings.sparkSession.conf
    key = "spark.sql.shuffle.partitions"
    caller = conf.get(key, None)
    conf.set(key, str(state_partitions(readings.sparkSession)))
    try:
        return [
            q1_sink(q1_stream(readings, watermark, window=q1_window)),
            q2_sink(q2_stream(readings, watermark, window=q2_window)),
        ]
    finally:
        if caller is None:
            conf.unset(key)
        else:
            conf.set(key, caller)


def with_observed_metrics(df: DataFrame, name: str = "pipeline_metrics"):
    """Attach streaming-safe observed metrics (``df.observe``): row
    count, max event time, and late-ish null count ride along with
    every micro-batch and surface in
    ``StreamingQueryProgress.observedMetrics[name]`` — production
    pipelines alarm on these without a second aggregation pass (the
    metrics are computed inside the existing plan, no extra scan or
    shuffle)."""
    from pyspark.sql import functions as F

    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.max("event_time").alias("max_event_time"),
        F.sum(
            F.when(F.col("temperature").isNull(), 1).otherwise(0)
        ).alias("n_null_temps"),
    )
