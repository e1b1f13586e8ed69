"""Oracle-differential tests for every registered query (SURVEY §5.1).

This is the same check the driver runs (sf0.01); tests run at sf0.001
for speed, plus a couple of targeted assertions at sf0.01.
"""

from __future__ import annotations

import pytest

from msk_flink_streaming_cdk_spark.registry import ORACLES, QUERIES

from .oracle import compare


def _oracle_checked():
    return sorted(ORACLES)


@pytest.mark.parametrize("name", _oracle_checked())
def test_query_matches_oracle_sf0001(spark, sf_small, name):
    compare(QUERIES[name](spark, sf_small), ORACLES[name], sf_small)


def test_no_oracle_returns_hugeint(sf_small):
    """Lint: no oracle may type a column HUGEINT (DuckDB int128).

    DuckDB widens SUM(BIGINT) — window or whole-table — to HUGEINT,
    which the driver's pandas canonicalization renders as float64
    while Spark's long renders int64, hash-mismatching on values that
    are numerically identical. This bit three queries across rounds
    4-6 (`text_token_budget_pack`, `text_pack_sequences`); the fix is
    always `CAST(... AS BIGINT)`. This lint plans every oracle against
    the fixtures (LIMIT 0 — no execution) and ends the class.
    """
    import duckdb

    from msk_flink_streaming_cdk_spark.sources.fixtures import TABLES

    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{sf_small}/{name}.parquet'"
            )
        offenders = []
        for name, sql in ORACLES.items():
            rel = con.sql(f"SELECT * FROM ({sql}) lint_q LIMIT 0")
            for col, typ in zip(rel.columns, rel.types):
                if "HUGEINT" in str(typ).upper() or "INT128" in str(typ):
                    offenders.append(f"{name}.{col}: {typ}")
        assert not offenders, offenders
    finally:
        con.close()


def test_no_query_surfaces_decimal(built_queries, sf_small):
    """Lint: no registered query may OUTPUT a DecimalType column.

    Spark collects DecimalType as `decimal.Decimal` objects (pandas
    object dtype, str renders keep the scale: '276.00') while DuckDB
    converts DECIMAL results to float64 ('276.0'), so any final
    decimal column hash-mismatches in the driver canon on every value
    whose last scale digit is 0 — this bit `q10_returned_items`,
    `q18_large_volume_orders` and `window_share_of_segment` in round
    6. Internal arithmetic should stay decimal-exact; the OUTPUT must
    be `round(CAST(... AS DOUBLE), scale)` on both sides (the exact
    sum sits on the decimal grid, so the round is unambiguous — see
    rollup_status_priority). Checks the Spark plan schema (no
    execution) and the oracle's LIMIT-0 types.
    """
    import duckdb
    from pyspark.sql.types import DecimalType

    from msk_flink_streaming_cdk_spark.sources.fixtures import TABLES

    offenders = []
    for name, df in built_queries.items():
        for f in df.schema.fields:
            if isinstance(f.dataType, DecimalType):
                offenders.append(f"spark:{name}.{f.name}: {f.dataType}")
    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{sf_small}/{name}.parquet'"
            )
        for name, sql in ORACLES.items():
            rel = con.sql(f"SELECT * FROM ({sql}) lint_q LIMIT 0")
            for col, typ in zip(rel.columns, rel.types):
                if "DECIMAL" in str(typ).upper():
                    offenders.append(f"oracle:{name}.{col}: {typ}")
    finally:
        con.close()
    assert not offenders, offenders


def test_every_query_runs_rows_nonnegative(built_queries):
    for name, df in built_queries.items():
        assert df.count() >= 0, name


def test_q1_daily_nonempty_sf001(spark, sf_medium):
    # 154 qualifying (sensor, day) windows at sf0.01 — guards against
    # a silently-empty alert pipeline.
    assert QUERIES["q1_alerts_daily"](spark, sf_medium).count() > 100


def test_q1_output_schema(spark, sf_small):
    df = QUERIES["q1_alerts_30s"](spark, sf_small)
    assert [f.name for f in df.schema.fields] == [
        "sensor_id",
        "count_temp",
        "start_event_time",
    ]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "sensor_id": "string",
        "count_temp": "bigint",
        "start_event_time": "timestamp",
    }


def test_q2_output_schema(spark, sf_small):
    df = QUERIES["q2_windowed_avg_60s"](spark, sf_small)
    assert [f.name for f in df.schema.fields] == [
        "sensor_id",
        "avg_temp",
        "start_event_time",
        "year",
        "month",
        "day",
        "hour",
    ]
    assert df.schema["avg_temp"].dataType.simpleString() == "bigint"


def test_rfm_boundary_scores_match_rank_form(spark, sf_small):
    """Optimization r16: customer_rfm_segments scores via the four
    boundary tuples per metric (bucket counts + driver binary search
    on the exact IEEE expression) instead of materializing every
    row's rank. Must equal the r7-r15 rank-materializing form
    bit-for-bit."""
    from pyspark.sql import functions as F

    from msk_flink_streaming_cdk_spark.operators.relational import (
        boundaries_from_sample,
        partitioned_row_number,
    )
    from msk_flink_streaming_cdk_spark.operators.util import (
        materialize_once,
    )
    from msk_flink_streaming_cdk_spark.registry import QUERIES
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    got = sorted(
        tuple(r)
        for r in QUERIES["customer_rfm_segments"](spark, sf_small).collect()
    )

    o = load_table(spark, sf_small, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    base = materialize_once(
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_custkey",
            F.datediff("anchor", "last_order").cast("long").alias(
                "recency_days"
            ),
            "frequency",
            F.col("monetary").cast("double").alias("monetary"),
        )
    )
    ncnt = base.agg(F.count("*").alias("_n"))
    sample = base.orderBy(F.xxhash64("c_custkey")).limit(1024).collect()

    def quintile(src, metric, descending, out):
        order = [
            F.col(metric).desc() if descending else F.col(metric),
            F.col("c_custkey"),
        ]
        ranked = partitioned_row_number(
            src, metric, descending, order, "_rn",
            boundaries=boundaries_from_sample(
                [r[metric] for r in sample], descending
            ),
        )
        pr = F.when(
            F.col("_n") > 1, (F.col("_rn") - 1) / (F.col("_n") - 1)
        ).otherwise(F.lit(0.0))
        return (
            ranked.crossJoin(F.broadcast(ncnt))
            .withColumn(out, F.greatest(F.lit(1), F.ceil(pr * 5)))
            .drop("_rn", "_n")
        )

    r = quintile(base, "recency_days", False, "r_score")
    f = quintile(
        base.select("c_custkey", "frequency"), "frequency", True, "f_score"
    ).drop("frequency")
    m = quintile(
        base.select("c_custkey", "monetary"), "monetary", True, "m_score"
    ).drop("monetary")
    want = sorted(
        tuple(x) for x in r.join(f, "c_custkey").join(m, "c_custkey").collect()
    )
    base.unpersist()
    assert got == want
