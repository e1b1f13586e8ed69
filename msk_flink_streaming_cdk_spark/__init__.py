"""PySpark-native analytics engine with the query/data-processing
capabilities of ``aws-samples/msk-flink-streaming-cdk``.

The reference is a PyFlink Table API streaming app
(``/root/reference/PythonKafkaSink/main.py``) that reads a JSON sensor
stream from Kafka, runs two tumbling-window aggregations (a
high-temperature alert count and a per-sensor average), and writes to a
Kafka topic and a partitioned S3 filesystem sink. This package
re-expresses that surface — and a much wider, oracle-checked operator
library (joins, aggregates, OVER windows, set ops, dedup, similarity
search, text analysis) — Spark-first: declarative DataFrame/SQL plans
optimized by Catalyst, Structured Streaming for the streaming surface.

Layout:
    jobs.py       the reference job (Q1 + Q2 streaming queries), sized
                  to the cores that run it
    session.py    SparkSession factory / session tuning for scale
    schemas.py    explicit StructTypes (reference DDL parity)
    sources/      fixture loader, Kafka/file/rate source builders
    operators/    batch+streaming transforms (shared, unified model)
    functions/    scalar/vector helper columns (JVM-side first)
    plans/        plan-inspection utilities (pushdown/broadcast asserts)
    streaming/    sinks and their one start path, ingest gates,
                  stateful operators
    registry/     name -> (query builder, DuckDB oracle SQL) registry
"""

__version__ = "0.1.0"
