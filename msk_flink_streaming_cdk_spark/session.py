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
concurrent queries (``jobs.state_partitions``).

``tune(spark)`` applies the runtime-settable subset to a session we did
not create (the verify driver hands us one) — it is idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that can be changed on a live session (dynamic SQL confs). Only
# values that differ from Spark's defaults: tune() runs inside every
# registered query, so restating a default here would silently undo a
# caller's override of it.
_RUNTIME_CONF = {
    # Naive timestamps must bind to UTC so window boundaries are
    # deterministic across environments (SURVEY §7 risk 3).
    "spark.sql.session.timeZone": "UTC",
    # AQE (on by default) switches a join to broadcast on EXACT
    # post-shuffle sizes, so its runtime threshold can afford to be
    # more aggressive than the static 10 MB default, which works on
    # file-size × guessed-selectivity estimates.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any toPandas()/pandas_udf path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
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
