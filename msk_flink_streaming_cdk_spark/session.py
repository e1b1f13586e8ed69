"""SparkSession factory tuned for the engine.

The reference delegates all runtime config to Managed Flink
(``/root/reference/msk_flink_streaming_stack.py:100-123``); our analogue
is a session factory that pins the semantics-critical settings
(UTC session timezone — the producer emits naive local ISO-8601
timestamps, ``kfpLambdaStreamProducer.py:53``) and the
scale-critical ones (AQE, shuffle partitions, Arrow).

The global ``spark.sql.shuffle.partitions`` default serves batch
queries, whose shuffles AQE coalesces at runtime. Stateful streaming
queries are not coalesced, so the reference job sizes their partitions
when its queries start: one state store per core, split between its two
concurrent queries (``streaming.pipelines.state_partitions``).

``tune(spark)`` applies the runtime-settable subset to a session we did
not create (the verify driver hands us one) — it is idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that can be changed on a live session (dynamic SQL confs).
_RUNTIME_CONF = {
    # Naive timestamps must bind to UTC so window boundaries are
    # deterministic across environments (SURVEY §7 risk 3).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, and
    # dynamic join-strategy switch — essential at 100 TB where static
    # estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast decisions: keep the STATIC threshold at Spark's 10 MB
    # default — static estimates are file-size × guessed selectivity
    # and routinely wrong (a 50%-selective filter on a fact table can
    # "fit" and then serially build a huge hash relation). AQE's
    # runtime threshold works on EXACT post-shuffle sizes, so it can
    # afford to be aggressive.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any toPandas()/pandas_udf path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime bloom-filter join pruning: when one join side is
    # selectively filtered, inject a bloom of its keys into the other
    # side's scan — at 100 TB this prunes most of a fact-table shuffle
    # before it happens (the built-in form of the bloom pattern
    # text_contamination_bloom hand-builds for a non-join shape).
    # Env-gated, DEFAULT ON (cluster posture): round-4 A/B showed the
    # injected filters cost a uniform ~10%/query at local sf0.1 with
    # no pruning benefit (every scan already fits in one wave), so
    # bench.py runs with SPARK_GRAFT_RUNTIME_BLOOM=false; a 100 TB
    # deployment leaves the default. The creation/application size
    # thresholds (creationSideThreshold 10 MB, application scan-size
    # 10 GB) are Spark's own size gate on top of this switch.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": os.environ.get(
        "SPARK_GRAFT_RUNTIME_BLOOM", "true"
    ),
    # ANSI off: match Flink/DuckDB permissive casts in oracle queries.
    "spark.sql.ansi.enabled": "false",
    # The driver's events fixture stores TIMESTAMP(NANOS) parquet, which
    # Spark rejects by default; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Recursive CTE row valve: the 1M default trips on legitimate
    # bounded recursions (sql_recursive_assembly_rollup accumulates
    # N*log4(N) rows — ~2.8e8 at sf100) while the REAL runaway stop is
    # cteRecursionLevelLimit (left at its 100 default; our deepest
    # recursion is ~13 levels at sf100). 1e9 keeps a genuine volume
    # valve (~3.5x sf100 headroom, far under INT_MAX) and, living
    # HERE, is a uniform engine default instead of a per-query
    # session mutation that silently persists (round-8 verdict #3).
    "spark.sql.cteRecursionRowLimit": str(1_000_000_000),
    # Reliable-checkpoint hygiene for cut_lineage's cluster path:
    # without this, each fixpoint round's checkpoint directory is
    # kept FOREVER (Spark never deletes them), so a long-running job
    # leaks checkpoint storage round by round. With it, the
    # ContextCleaner removes a round's files once its RDD is GC'd.
    # STATIC conf: a no-op via conf.set on live sessions (tune()
    # swallows that), effective when set at session build — which
    # get_spark does.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — factory-created sessions set it
    return spark


def get_spark(
    app_name: str = "msk-flink-streaming-cdk-spark",
    cpus: int | None = None,
) -> SparkSession:
    """Create (or get) a local SparkSession with engine defaults.

    ``local[cpus]`` is only a FALLBACK: when spark-submit (or the env)
    already configured a master, code must not override it — a code-set
    ``.master()`` takes precedence over ``--master`` and would silently
    run cluster jobs in local mode. Everything else set here is
    cluster-safe (no local-only semantics).
    """
    cpus = cpus or default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if not (
        os.environ.get("SPARK_MASTER")
        or os.environ.get("MASTER")
        # spark-submit python deploys launch the JVM first and hand the
        # child interpreter a gateway — the master is already decided.
        or os.environ.get("PYSPARK_GATEWAY_PORT")
    ):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(max(32, cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse for bucketed tables (storage.py);
        # kept out of the repo tree.
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
