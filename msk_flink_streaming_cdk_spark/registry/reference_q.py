"""Reference-surface queries (SURVEY §2.10), oracle-checked in batch.

The streaming execution of the same transforms is covered by
``jobs.py::run_reference_job`` + ``tests/test_streaming.py`` (watermarks and
append-mode emission are not SQL-expressible for the DuckDB oracle).

The reference's exact parameters (30s/60s windows over a 0.33 rec/s
5-sensor stream) produce empty results on the driver's sparse 30-day
``events`` fixture, so alongside exact-parameter parity entries we
register day-window variants that exercise the same operator pipeline
with non-trivial output (154 rows at sf0.01).
"""

from __future__ import annotations

from ..operators.reference import q1_high_temp_alerts, q2_windowed_avg
from ..sources.fixtures import (
    SENSOR_READINGS_DENSE_SQL,
    SENSOR_READINGS_SQL,
    sensor_readings,
    sensor_readings_dense,
)
from ._core import register, tumble_start_sql

_DAY = 24 * 3600


@register(
    "q1_alerts_30s",
    oracle=f"""
    WITH input_table AS ({SENSOR_READINGS_DENSE_SQL})
    SELECT sensor_id, count(*) AS count_temp,
           {tumble_start_sql('event_time', 30)} AS start_event_time
    FROM input_table WHERE temperature > 30
    GROUP BY sensor_id, floor(epoch(event_time)/30)
    HAVING count(*) > 3
    """,
)
def q1_alerts_30s(spark, sf_dir):
    """Reference Q1, exact parameters (main.py:79-86: 30 s tumble,
    temperature > 30, HAVING count > 3, five sensors) over the
    densified sensor slice — the sparse 30-day fixture timeline is
    deterministically folded to producer-like density so the exact
    parameters yield non-trivial oracle-checked output (585 rows at
    sf0.01 vs 0 on the raw slice)."""
    return q1_high_temp_alerts(sensor_readings_dense(spark, sf_dir))


@register(
    "q1_alerts_daily",
    oracle=f"""
    WITH input_table AS ({SENSOR_READINGS_SQL})
    SELECT sensor_id, count(*) AS count_temp,
           {tumble_start_sql('event_time', _DAY)} AS start_event_time
    FROM input_table WHERE temperature > 30
    GROUP BY sensor_id, floor(epoch(event_time)/{_DAY})
    HAVING count(*) > 3
    """,
)
def q1_alerts_daily(spark, sf_dir):
    """Q1 pipeline at a day window — non-trivial output on fixtures."""
    return q1_high_temp_alerts(sensor_readings(spark, sf_dir), window="1 day")


@register(
    "q2_windowed_avg_60s",
    oracle=f"""
    WITH input_table AS ({SENSOR_READINGS_SQL}),
    inner_q AS (
      SELECT sensor_id,
             CAST(floor(avg(temperature)) AS BIGINT) AS avg_temp,
             {tumble_start_sql('event_time', 60)} AS start_event_time
      FROM input_table
      GROUP BY sensor_id, floor(epoch(event_time)/60)
    )
    SELECT *, CAST(year(start_event_time) AS BIGINT) AS year,
           CAST(month(start_event_time) AS BIGINT) AS month,
           CAST(day(start_event_time) AS BIGINT) AS day,
           CAST(hour(start_event_time) AS BIGINT) AS hour
    FROM inner_q
    """,
)
def q2_windowed_avg_60s(spark, sf_dir):
    """Reference Q2, exact parameters (main.py:90-96)."""
    return q2_windowed_avg(sensor_readings(spark, sf_dir))


@register(
    "q2_windowed_avg_hourly",
    oracle=f"""
    WITH input_table AS ({SENSOR_READINGS_SQL}),
    inner_q AS (
      SELECT sensor_id,
             CAST(floor(avg(temperature)) AS BIGINT) AS avg_temp,
             {tumble_start_sql('event_time', 3600)} AS start_event_time
      FROM input_table
      GROUP BY sensor_id, floor(epoch(event_time)/3600)
    )
    SELECT *, CAST(year(start_event_time) AS BIGINT) AS year,
           CAST(month(start_event_time) AS BIGINT) AS month,
           CAST(day(start_event_time) AS BIGINT) AS day,
           CAST(hour(start_event_time) AS BIGINT) AS hour
    FROM inner_q
    """,
)
def q2_windowed_avg_hourly(spark, sf_dir):
    """Q2 pipeline at an hour window — dense output on fixtures."""
    return q2_windowed_avg(sensor_readings(spark, sf_dir), window="1 hour")
