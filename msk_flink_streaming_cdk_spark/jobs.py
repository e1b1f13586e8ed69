"""The reference job as a runnable unit — lifecycle parity with
``/root/reference/PythonKafkaSink/main.py:118-153``.

Reference lifecycle: env setup → property resolution → DDL → two
INSERTs in one StatementSet → execute. Spark analogue: session →
config → source builder → Q1/Q2 transforms → two streaming queries
(or Kafka-less file mode for local runs).

Reference shape (``main.py:146-149``): one StatementSet executing two
INSERTs — Q1 → Kafka alert topic, Q2 → partitioned S3 — over a shared
Kafka scan with a 5s watermark. Here the same Q1/Q2 transforms
(operators/reference.py) run with ``withWatermark`` in **append**
output mode (emission parity with Flink group windows, SURVEY §2.7 W6)
as two StreamingQueries with independent checkpoints. Offsets across
sinks are independently committed (documented delta from Flink's
single-job atomicity — SURVEY §7 risk 4).

The two queries share the cores that run the job: each query's
stateful shuffle gets half of them (``state_partitions``), one state
store per core across the job, when the query first starts. Spark
freezes that count in the checkpoint, so a restart keeps it.

In file mode each trigger admits one file per core
(``files_per_trigger``), so a backlog of ``n`` files drains in
⌈n ÷ cores⌉ data batches, each scanning one file per core, rather than
in ``n`` one-task batches that each pay the per-batch fixed cost
(offset log, planning, state commits, commit log). Kafka mode already
takes every available offset per trigger. The one semantic consequence
is the one Kafka mode has: which rows count as late depends on how the
backlog is cut into triggers. Spark drops a row as late only when it is
older than the watermark the previous trigger ran with (its late-row
check lags window eviction by one trigger), so a backlog whose disorder
stays within the 5 s watermark gives the same output however it is
batched. With disorder beyond the watermark the output depends on the
cores: a row more than 5 s older than an earlier file's latest row is
kept when it lands in that file's trigger or the next one, and dropped
when it lands two or more triggers later, so the same backlog can give
different Q1/Q2 rows at 1, 4 or 8 cores. At one core the cap is one
file, as before. On a 4-core VM the ``perfbench``
``sensor_backlog`` drain (3 files) went from 8 micro-batches to 4 and
from 46.6k to 73.3k events/s (median of 10 pairs).

Both queries start through ``streaming/sinks.py::start``, which writes
a local checkpoint (offset log, commit log, source log, state stores)
through Hadoop's ``FileSystem`` API instead of ``FileContext``, whose
local-filesystem path forks ``readlink`` and ``chmod`` shell processes
for every log file. On the same VM ``sensor_backlog`` went from 99.9k
to 120.4k events/s (median of 10 pairs, 9 won).

Run locally (file mode):
    python -m msk_flink_streaming_cdk_spark.jobs \
        --properties props.json --source-dir in/ --mode file
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession

from .config import ReferenceJobConfig, load_job_config
from .operators.reference import q1_high_temp_alerts, q2_windowed_avg
from .schemas import SENSOR_READING
from .session import get_spark
from .sources.files import stream_parquet_dir
from .sources.kafka import read_kafka_json, sink_options, to_kafka_json
from .streaming.sinks import session_conf, start, write_partitioned_files

REFERENCE_WATERMARK = "5 seconds"  # main.py:18
STATEFUL_QUERIES = 2  # Q1 and Q2 run at once and share the cores


def state_partitions(spark: SparkSession) -> int:
    """State stores per stateful query of the reference job: the cores
    running the job (``local[n]`` locally, total executor cores on a
    cluster) split between its ``STATEFUL_QUERIES`` concurrent queries,
    so the job holds one store per core. Every store is loaded and
    committed each micro-batch, so more stores than cores only adds
    commit work; AQE does not coalesce a stateful shuffle the way it
    does a batch one."""
    return max(1, spark.sparkContext.defaultParallelism // STATEFUL_QUERIES)


def files_per_trigger(spark: SparkSession) -> int:
    """Files each file-mode trigger of the reference job admits: one per
    core running the job. A file up to Spark's split size is read by
    one scan task, so one file per trigger leaves the other cores idle
    during the scan and pays the per-batch fixed cost once per file;
    one file per core fills the cores and pays it once per
    ⌈files ÷ cores⌉. Admitting every landed file is faster still where
    the cap binds, but a trigger's state holds every window its files
    open, so uncapped state grows with the backlog while this cap keeps
    it to what one file per core opens. Measured with ``perfbench``
    ``sensor_backlog`` on a 4-core VM: without the cap, throughput was
    +17% at 3 files on 2 cores and +51% at 9 files on 4 cores (medians
    of 10 and 8 pairs), and its state grew from 156k rows at 9 files to
    308k at 18, against about 80k at both with the cap."""
    return max(1, spark.sparkContext.defaultParallelism)


def run_reference_job(
    spark: SparkSession,
    cfg: ReferenceJobConfig,
    mode: str = "kafka",
    source_dir: str | None = None,
    checkpoint_root: str = "/tmp/spark_graft_checkpoints",
    trigger: dict | None = None,
) -> list:
    """Start the two reference queries; returns ``[q1, q2]``.

    mode="kafka": source/alert-sink on the configured topics (cluster).
    mode="file": parquet-dir source + JSON-file alert sink (local,
    broker-less — the alert sink directory stands in for the topic).
    Both queries run on ``trigger``; with none they drain what has
    landed, then stop.

    ``spark.sql.shuffle.partitions`` is set to ``state_partitions`` only
    around the two ``start()`` calls: each query clones the session conf
    when it starts, and the caller's value is restored afterwards.
    """
    if mode == "kafka":
        readings = read_kafka_json(
            spark,
            SENSOR_READING,
            options={
                "kafka.bootstrap.servers": cfg.bootstrap_servers,
                "subscribe": cfg.input_topic,
                "startingOffsets": "earliest",
            },
        )
    else:
        readings = stream_parquet_dir(
            spark,
            source_dir,
            SENSOR_READING,
            max_files_per_trigger=files_per_trigger(spark),
        )
    alerts = q1_high_temp_alerts(readings, watermark=REFERENCE_WATERMARK)
    averages = q2_windowed_avg(readings, watermark=REFERENCE_WATERMARK)
    if mode == "kafka":
        q1_writer = (
            to_kafka_json(alerts, key_col="sensor_id")
            .writeStream.format("kafka")
            .options(**sink_options(cfg.bootstrap_servers, cfg.output_topic))
        )
    else:
        q1_writer = alerts.writeStream.format("json").option(
            "path", os.path.join(cfg.output_topic, "")
        )

    with session_conf(
        spark, {"spark.sql.shuffle.partitions": str(state_partitions(spark))}
    ):
        return [
            start(
                q1_writer.outputMode("append"),
                os.path.join(checkpoint_root, "q1"),
                trigger,
            ),
            write_partitioned_files(
                averages,
                cfg.output_path,
                checkpoint=os.path.join(checkpoint_root, "q2"),
                trigger=trigger,
            ),
        ]


def main() -> None:
    p = argparse.ArgumentParser(description="Run the reference job")
    p.add_argument("--properties", required=True)
    p.add_argument("--mode", choices=["kafka", "file"], default="file")
    p.add_argument("--source-dir")
    p.add_argument("--checkpoint-root", default="/tmp/spark_graft_checkpoints")
    args = p.parse_args()
    if args.mode == "file" and not args.source_dir:
        p.error("--source-dir is required with --mode file")
    cfg = load_job_config(args.properties)
    spark = get_spark(app_name="reference-job")
    queries = run_reference_job(
        spark,
        cfg,
        mode=args.mode,
        source_dir=args.source_dir,
        checkpoint_root=args.checkpoint_root,
        # Kafka mode is a live job, both queries running until stopped
        # (main.py:146-153); file mode drains the directory and stops.
        trigger=(
            {"processingTime": "0 seconds"} if args.mode == "kafka" else None
        ),
    )
    for q in queries:
        q.awaitTermination()


if __name__ == "__main__":
    main()
