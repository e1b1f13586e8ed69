"""Custom stateful operator + stream-stream join tests (SURVEY §5.2)."""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from msk_flink_streaming_cdk_spark.schemas import SENSOR_READING
from msk_flink_streaming_cdk_spark.sources.files import stream_parquet_dir
from msk_flink_streaming_cdk_spark.streaming.stateful import (
    ewma_by_key,
    interval_join,
)

T0 = datetime(2024, 1, 1)


def _write_batches(spark, tmpdir, batches, subdir="src"):
    path = os.path.join(str(tmpdir), subdir)
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(batches):
        data = [(s, t, T0 + timedelta(seconds=off)) for (s, t, off) in rows]
        df = spark.createDataFrame(data, SENSOR_READING).coalesce(1)
        part = os.path.join(str(tmpdir), f"part_{subdir}_{i}")
        df.write.mode("overwrite").parquet(part)
        (src,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(path, f"batch_{i:03d}.parquet")
        os.rename(src, dst)
        mtime = time.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))
    return path


def _ref_ewma(temps, alpha=0.3):
    e = None
    for t in temps:
        e = float(t) if e is None else alpha * float(t) + (1 - alpha) * e
    return e


def test_ewma_state_survives_across_batches(spark, tmp_path):
    batches = [
        [("1", 30, 0), ("1", 32, 10), ("2", 28, 5)],
        [("1", 27, 20), ("2", 31, 25)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        ewma_by_key(readings, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT * FROM ewma_test"
    ).collect()
    # update mode: one row per key per batch; the LAST row per key is
    # the final state. Keys processed in event-time order per batch.
    final = {}
    for r in out:
        final[r.sensor_id] = (r.n_events, r.ewma)
    assert final["1"][0] == 3
    assert abs(final["1"][1] - _ref_ewma([30, 32, 27])) < 1e-12
    assert final["2"][0] == 2
    assert abs(final["2"][1] - _ref_ewma([28, 31])) < 1e-12


def test_streaming_dedup_first_occurrence_wins(spark, tmp_path):
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        streaming_dedup,
    )

    # duplicate (sensor, temperature) keys within the watermark window
    # are suppressed; the first row per key survives.
    batches = [
        [("1", 30, 0), ("1", 30, 5), ("2", 28, 6)],
        [("1", 30, 12), ("2", 28, 14), ("3", 31, 20)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="dedup")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    out = streaming_dedup(
        readings, ["sensor_id", "temperature"], "event_time"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sdedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r.sensor_id, r.temperature, r.event_time)
        for r in spark.sql("SELECT * FROM sdedup_test").collect()
    ]
    keys = [(s, t) for s, t, _ in rows]
    assert sorted(keys) == [("1", 30), ("2", 28), ("3", 31)]
    first = {(s, t): ts for s, t, ts in rows}
    assert first[("1", 30)] == T0  # t=0 row won, t=5/t=12 suppressed


def test_streaming_session_window_merges_and_finalizes(spark, tmp_path):
    # sensor 1: events at t=0,10,25 (gaps < 30s → one session, end=55);
    # a row at t=200 pushes the watermark (195) past the session end so
    # append mode emits it. Second session (t=200) stays open → absent.
    from msk_flink_streaming_cdk_spark.operators.relational import sessionize

    batches = [
        [("1", 30, 0), ("1", 31, 10), ("1", 32, 25)],
        [("1", 27, 200)],
        [("1", 27, 400)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="sess")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    ).withWatermark("event_time", "5 seconds")
    out = sessionize(
        readings,
        "event_time",
        ["sensor_id"],
        "30 seconds",
        [F.count("*").alias("n_events")],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.sensor_id, r.session_start, r.session_end): r.n_events
        for r in spark.sql("SELECT * FROM sess_test").collect()
    }
    first = ("1", T0, T0 + timedelta(seconds=55))
    assert rows.get(first) == 3, rows
    # the session starting at t=400 is not finalized -> not emitted
    assert all(k[1] <= T0 + timedelta(seconds=200) for k in rows)


def test_session_window_late_event_merges_sessions(spark, tmp_path):
    # Out-of-order arrival ACROSS a session gap: batch0 creates two
    # provisional sessions [0,40) and [60,100) (gap 40s); batch1's late
    # t=30 row lands inside the watermark (70s delay keeps both open)
    # and its window [30,70) overlaps both — state-store session merge.
    # batch2 (t=300) pushes the watermark (230) past the merged end so
    # append mode emits exactly ONE finalized session [0,100) with all
    # 3 events.
    from msk_flink_streaming_cdk_spark.operators.relational import sessionize

    batches = [
        [("1", 30, 0), ("1", 31, 60)],
        [("1", 32, 30)],  # out-of-order, bridges the two sessions
        [("1", 27, 300)],  # watermark push: 300-70=230 > 100
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="sess_late")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    ).withWatermark("event_time", "70 seconds")
    out = sessionize(
        readings,
        "event_time",
        ["sensor_id"],
        "40 seconds",
        [F.count("*").alias("n_events")],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.sensor_id, r.session_start, r.session_end): r.n_events
        for r in spark.sql("SELECT * FROM sess_late_test").collect()
    }
    merged = ("1", T0, T0 + timedelta(seconds=100))
    assert rows.get(merged) == 3, rows
    # finality: the pre-merge fragments were never emitted separately
    assert len(rows) == 1, rows


def test_streaming_sliding_window_hops_and_finality(spark, tmp_path):
    # 30s window hopping 15s: every event lands in exactly two hops.
    # t=0 → [-15,15) and [0,30); t=10 → the same two. batch1 (t=100)
    # advances the watermark (95) past both ends so append emits them;
    # batch2 (t=200, watermark 195) then finalizes t=100's two hops
    # (counts 1); only t=200's own hops stay open → absent.
    from msk_flink_streaming_cdk_spark.operators.relational import (
        sliding_window_agg,
    )

    batches = [
        [("1", 30, 0), ("1", 31, 10)],
        [("1", 27, 100)],
        [("1", 27, 200)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="slide")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    ).withWatermark("event_time", "5 seconds")
    out = sliding_window_agg(
        readings,
        "event_time",
        "30 seconds",
        "15 seconds",
        ["sensor_id"],
        [F.count("*").alias("n_events")],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.sensor_id, r.window_start): r.n_events
        for r in spark.sql("SELECT * FROM slide_test").collect()
    }
    expected = {
        ("1", T0 - timedelta(seconds=15)): 2,
        ("1", T0): 2,
        ("1", T0 + timedelta(seconds=75)): 1,
        ("1", T0 + timedelta(seconds=90)): 1,
    }
    # t=200's own hops are not finalized -> absent; everything else
    # emitted exactly once with exact hop membership.
    assert rows == expected, rows


def test_stream_stream_interval_join(spark, tmp_path):
    # left: "purchase" readings; right: "click" readings. Match clicks
    # within [left-30s, left] per sensor.
    left_src = _write_batches(
        spark, tmp_path, [[("1", 100, 60), ("2", 100, 60)]], subdir="left"
    )
    right_src = _write_batches(
        spark,
        tmp_path,
        [[("1", 1, 40), ("1", 2, 20), ("2", 3, 59), ("2", 4, 95)]],
        subdir="right",
    )
    left = stream_parquet_dir(spark, left_src, SENSOR_READING).select(
        F.col("sensor_id"),
        F.col("event_time").alias("l_time"),
    )
    right = stream_parquet_dir(spark, right_src, SENSOR_READING).select(
        F.col("sensor_id").alias("r_sensor"),
        F.col("temperature").alias("click_id"),
        F.col("event_time").alias("r_time"),
    )
    joined = interval_join(
        left.withColumnRenamed("sensor_id", "key"),
        right.withColumnRenamed("r_sensor", "key"),
        key="key",
        left_time="l_time",
        right_time="r_time",
        lower="30 seconds",
        upper="0 seconds",
    )
    q = (
        joined.select("key", "click_id")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.key, r.click_id) for r in spark.sql("SELECT * FROM ssj_test").collect()}
    # sensor 1 @60: clicks at 40 (in [30,60]) yes, 20 no.
    # sensor 2 @60: click at 59 yes, 95 (after) no.
    assert got == {("1", 1), ("2", 3)}


def test_stream_static_enrichment_broadcasts_dim(spark, tmp_path):
    # Stream-static join: every streaming row picks up its dim columns
    # (left join keeps rows with no dim match, NULL-filled), and the
    # static side is broadcast — no stream-side shuffle, no join state.
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        enrich_with_dim,
    )

    src = _write_batches(
        spark,
        tmp_path,
        [[("1", 30, 0), ("2", 31, 5), ("9", 27, 10)]],
        subdir="enrich",
    )
    dim = spark.createDataFrame(
        [("1", "lab"), ("2", "roof")], "sensor_id string, location string"
    )
    readings = stream_parquet_dir(spark, src, SENSOR_READING)
    out = enrich_with_dim(readings, dim, key="sensor_id")
    q = (
        out.select("sensor_id", "temperature", "location")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.sensor_id, r.location)
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    assert got == {("1", "lab"), ("2", "roof"), ("9", None)}


def test_transform_with_state_running_stats(spark, tmp_path):
    # Per-key running (count, sum, max), state surviving across
    # micro-batches.
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        running_stats_by_key,
    )

    batches = [
        [("1", 30, 0), ("1", 32, 10), ("2", 28, 5)],
        [("1", 27, 20), ("2", 31, 25)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="tws")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        running_stats_by_key(readings)
        .writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("update")
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "tws_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.sql("SELECT * FROM tws_test").collect():
        final[r.sensor_id] = (r.n_events, r.sum_temp, r.max_temp)
    assert final["1"] == (3, 89.0, 32.0)
    assert final["2"] == (2, 59.0, 31.0)


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    # Outer stream-stream join: unmatched left rows must emit
    # null-padded, but only AFTER the watermark passes their join band
    # (until then a match could still arrive). Right batches at t=200
    # and t=400 push the watermark past the t=60 left rows so the
    # unmatched key "9" flushes.
    # the GLOBAL watermark is the min over all inputs, so the left
    # stream needs its own pusher row — otherwise its watermark pins
    # the global one at 30 and nothing ever evicts. The t=600 pusher
    # itself stays in state (watermark never passes 600): not emitted.
    left_src = _write_batches(
        spark,
        tmp_path,
        [[("1", 100, 60), ("9", 100, 60)], [("7", 100, 600)]],
        subdir="left",
    )
    right_src = _write_batches(
        spark,
        tmp_path,
        # outer-join eviction runs a batch BEHIND the watermark
        # advance, so two trailing pusher batches guarantee a trigger
        # executes after the watermark passes t=60.
        [[("1", 1, 40)], [("1", 2, 200)], [("1", 3, 400)], [("1", 4, 600)]],
        subdir="right",
    )
    left = stream_parquet_dir(spark, left_src, SENSOR_READING).select(
        F.col("sensor_id").alias("key"),
        F.col("event_time").alias("l_time"),
    )
    right = stream_parquet_dir(
        spark, right_src, SENSOR_READING, max_files_per_trigger=1
    ).select(
        F.col("sensor_id").alias("key"),
        F.col("temperature").alias("click_id"),
        F.col("event_time").alias("r_time"),
    )
    joined = interval_join(
        left,
        right,
        key="key",
        left_time="l_time",
        right_time="r_time",
        lower="30 seconds",
        upper="0 seconds",
        how="left_outer",
    )
    q = (
        joined.select("key", "click_id")
        .writeStream.format("memory")
        .queryName("ssj_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.click_id)
        for r in spark.sql("SELECT * FROM ssj_outer_test").collect()
    }
    # "1"@60 matches click 1 @40 (in [30,60]); clicks @200/@400 are
    # outside every band; "9"@60 has no right rows -> null-padded.
    assert got == {("1", 1), ("9", None)}, got


def test_stream_stream_full_outer_interval_join(spark, tmp_path):
    # VERDICT r12 #4: full-outer stream-stream interval join — rows
    # missing from EITHER side must flush null-padded after the
    # watermark passes their join band. Left "9"@60 has no right rows;
    # right key "5"@50 has no left rows; right clicks @200/@400 are
    # outside every left band. The output key must survive for
    # right-unmatched rows (coalesce, not drop) — the shape a CDC
    # reconciliation depends on. Pushers at t=600 on both sides move
    # the global watermark (min over inputs) past every band; the
    # pushers themselves stay in state (watermark never passes 600).
    left_src = _write_batches(
        spark,
        tmp_path,
        [[("1", 100, 60), ("9", 100, 60)], [("7", 100, 600)]],
        subdir="fo_left",
    )
    right_src = _write_batches(
        spark,
        tmp_path,
        # outer eviction runs a batch BEHIND the watermark advance:
        # trailing pusher batches guarantee triggers after it passes.
        [
            [("1", 1, 40), ("5", 7, 50)],
            [("1", 2, 200)],
            [("1", 3, 400)],
            [("1", 4, 600)],
        ],
        subdir="fo_right",
    )
    left = stream_parquet_dir(spark, left_src, SENSOR_READING).select(
        F.col("sensor_id").alias("key"),
        F.col("event_time").alias("l_time"),
    )
    right = stream_parquet_dir(
        spark, right_src, SENSOR_READING, max_files_per_trigger=1
    ).select(
        F.col("sensor_id").alias("key"),
        F.col("temperature").alias("click_id"),
        F.col("event_time").alias("r_time"),
    )
    joined = interval_join(
        left,
        right,
        key="key",
        left_time="l_time",
        right_time="r_time",
        lower="30 seconds",
        upper="0 seconds",
        how="full_outer",
    )
    q = (
        joined.select(
            "key", "click_id", F.col("l_time").isNull().alias("left_missing")
        )
        .writeStream.format("memory")
        .queryName("ssj_full_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.click_id, r.left_missing)
        for r in spark.sql("SELECT * FROM ssj_full_outer_test").collect()
    }
    assert got == {
        ("1", 1.0, False),   # matched: click@40 in "1"@60's [30,60]
        ("9", None, False),  # left-unmatched, right null-padded
        ("5", 7.0, True),    # right-unmatched KEY — key must survive
        ("1", 2.0, True),    # right rows outside every left band
        ("1", 3.0, True),
    }, got


def test_stream_stream_right_outer_interval_join(spark, tmp_path):
    # right_outer: unmatched RIGHT rows flush null-padded (key kept
    # via the coalesce projection); unmatched LEFT rows do NOT emit.
    left_src = _write_batches(
        spark,
        tmp_path,
        [[("1", 100, 60), ("9", 100, 60)], [("7", 100, 600)]],
        subdir="ro_left",
    )
    right_src = _write_batches(
        spark,
        tmp_path,
        [[("1", 1, 40), ("5", 7, 50)], [("1", 2, 400)], [("1", 3, 600)]],
        subdir="ro_right",
    )
    left = stream_parquet_dir(spark, left_src, SENSOR_READING).select(
        F.col("sensor_id").alias("key"),
        F.col("event_time").alias("l_time"),
    )
    right = stream_parquet_dir(
        spark, right_src, SENSOR_READING, max_files_per_trigger=1
    ).select(
        F.col("sensor_id").alias("key"),
        F.col("temperature").alias("click_id"),
        F.col("event_time").alias("r_time"),
    )
    joined = interval_join(
        left,
        right,
        key="key",
        left_time="l_time",
        right_time="r_time",
        lower="30 seconds",
        upper="0 seconds",
        how="right_outer",
    )
    q = (
        joined.select(
            "key", "click_id", F.col("l_time").isNull().alias("left_missing")
        )
        .writeStream.format("memory")
        .queryName("ssj_right_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.click_id, r.left_missing)
        for r in spark.sql("SELECT * FROM ssj_right_outer_test").collect()
    }
    # matched pair emits; right-unmatched "5"@50 and out-of-band
    # click@400 flush null-padded; left-unmatched "9" must NOT appear.
    assert got == {
        ("1", 1.0, False),
        ("5", 7.0, True),
        ("1", 2.0, True),
    }, got


def test_chained_windowed_aggregations_stream(spark, tmp_path):
    # Multiple stateful operators in ONE streaming query (Spark 3.4+):
    # 30s counts re-windowed into 60s peaks, append mode. Only periods
    # the watermark has fully passed may emit.
    batches = [
        [("1", 30, 0), ("1", 31, 10), ("1", 32, 35), ("1", 30, 50)],
        [("1", 30, 70)],
        [("1", 27, 300)],
        [("1", 27, 600)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="chain")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    ).withWatermark("event_time", "5 seconds")
    per_30s = readings.groupBy(
        F.col("sensor_id"), F.window("event_time", "30 seconds").alias("w")
    ).agg(F.count("*").alias("n"))
    peaks = (
        per_30s.groupBy(
            F.col("sensor_id"), F.window(F.col("w"), "60 seconds").alias("p")
        )
        .agg(F.max("n").alias("peak"))
        .select("sensor_id", F.col("p.start").alias("period"), "peak")
    )
    q = (
        peaks.writeStream.format("memory")
        .queryName("chained_win")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.sensor_id, r.period, r.peak)
        for r in spark.sql("SELECT * FROM chained_win").collect()
    }
    # minute 0: 30s windows hold counts 2 ([0,30): t=0,10) and 2
    # ([30,60): t=35,50) -> peak 2; minute 1: count 1 ([60,90): t=70)
    # -> peak 1. The t=600 period is not watermark-closed: absent.
    assert (("1", T0, 2) in got) and (("1", T0 + timedelta(seconds=60), 1) in got), got
    assert all(p < T0 + timedelta(seconds=600) for (_, p, _) in got), got


def test_windowed_agg_restart_from_checkpoint_exactly_once(spark, tmp_path):
    # True stop/restart: run 1 processes three batches and stops; new
    # files then land; run 2 is a NEW query object resuming from the
    # SAME checkpoint into the same parquet sink. Exactly-once across
    # the restart = every finalized window appears exactly once with
    # the right count — no replays of run-1 output, no losses.
    import glob as _glob

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run(src_path):
        readings = stream_parquet_dir(
            spark, src_path, SENSOR_READING, max_files_per_trigger=1
        ).withWatermark("event_time", "5 seconds")
        counts = (
            readings.groupBy(
                F.window("event_time", "30 seconds"), F.col("sensor_id")
            )
            .agg(F.count("*").alias("n"))
            .select(
                "sensor_id",
                F.col("window.start").alias("w_start"),
                "n",
            )
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batches1 = [
        [("1", 30, 0), ("1", 31, 10)],   # window [0,30): 2 events
        [("1", 32, 40)],                 # window [30,60): 1 event
        [("1", 27, 100)],                # watermark push: finalizes both
    ]
    src = _write_batches(spark, tmp_path, batches1, subdir="restart")
    run(src)
    mid = [
        (r.sensor_id, r.w_start, r.n)
        for r in spark.read.parquet(sink).collect()
    ]
    assert (
        ("1", T0, 2) in mid and ("1", T0 + timedelta(seconds=30), 1) in mid
    ), mid

    # new data lands while the query is DOWN; mtimes keep replay order
    extra = _write_batches(
        spark,
        tmp_path,
        [[("1", 28, 130)], [("1", 29, 300)]],
        subdir="restart_extra",
    )
    import os
    import time as _time

    for i, f in enumerate(sorted(_glob.glob(os.path.join(extra, "*.parquet")))):
        dst = os.path.join(src, f"late_{i:03d}.parquet")
        os.rename(f, dst)
        m = _time.time() + i
        os.utime(dst, (m, m))

    run(src)  # second, independent query resuming the checkpoint
    final = [
        (r.sensor_id, r.w_start, r.n)
        for r in spark.read.parquet(sink).collect()
    ]
    # run 1's windows NOT re-emitted (exactly once), t=100's and
    # t=130's windows now finalized by the t=300 pusher
    from collections import Counter

    dupes = [k for k, c in Counter(final).items() if c > 1]
    assert not dupes, final
    want_new = {
        ("1", T0 + timedelta(seconds=90), 1),   # t=100
        ("1", T0 + timedelta(seconds=120), 1),  # t=130
    }
    assert want_new <= set(final), final
    assert ("1", T0, 2) in final and len(final) == len(set(final))


def test_topk_state_bounded_across_batches(spark, tmp_path):
    from msk_flink_streaming_cdk_spark.streaming.stateful import topk_by_key

    batches = [
        [("1", 30, 0), ("1", 32, 10), ("1", 28, 15), ("2", 27, 5)],
        [("1", 31, 20), ("1", 29, 25), ("2", 33, 30)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="topk")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        topk_by_key(readings, k=3)
        .writeStream.format("memory")
        .queryName("topk_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.sql("SELECT * FROM topk_test").collect():
        final[r.sensor_id] = (r.n_seen, list(r.topk))
    # sensor 1 saw 30,32,28,31,29 -> top3 = [32,31,30]; state kept only
    # 3 values between batches (bounded-state invariant).
    assert final["1"] == (5, [32, 31, 30])
    assert final["2"] == (2, [33, 27])


def test_streaming_funnel_stages_across_batches(spark, tmp_path):
    import glob
    import os
    import time as _t
    from datetime import datetime, timedelta

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from msk_flink_streaming_cdk_spark.streaming.stateful import funnel_by_user

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = datetime(2024, 1, 1)
    # user 1 converts across batches; user 2's click comes BEFORE its
    # first view (order matters — membership would wrongly stage it);
    # user 3 clicks outside the 3-day window.
    batches = [
        [(1, "view", 0), (2, "click", 5), (3, "view", 10)],
        [(1, "click", 3600), (2, "view", 7200), (3, "click", 4 * 86400)],
        [(1, "purchase", 7200), (2, "purchase", 9000)],
    ]
    src = os.path.join(str(tmp_path), "funnel_src")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        data = [(u, e, t0 + timedelta(seconds=o)) for (u, e, o) in rows]
        part = os.path.join(str(tmp_path), f"funnel_part_{i}")
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"b{i:03d}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        funnel_by_user(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.sql("SELECT * FROM funnel_stream_test").collect():
        final[r.user_id] = r.funnel_stage  # last write per user wins
    assert final[1] == 3  # view -> click -> purchase across 3 batches
    # user 2: click-before-view never counts; purchase needs a click
    assert final[2] == 1
    assert final[3] == 1  # click outside the window


def test_heavy_hitters_space_saving_guarantees(spark, tmp_path):
    """Space-saving invariants under replay: est >= true >= est - err
    for every monitored item, and every item with shard-local
    frequency > n/m is present in the final summary — with O(m) state
    per shard however many distinct items stream through."""
    import collections

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        heavy_hitters_by_shard,
    )

    # Skewed item stream: a few heavy items + a long tail, far more
    # distinct items than m=4 monitors per shard.
    seq = (
        ["apple"] * 9
        + ["banana"] * 7
        + ["cherry"] * 5
        + [f"tail{i}" for i in range(12)]
        + ["apple", "banana"] * 3
    )
    batches = [seq[:18], seq[18:]]
    path = os.path.join(str(tmp_path), "hh_src")
    os.makedirs(path, exist_ok=True)
    for i, items in enumerate(batches):
        rows = [
            (it, T0 + timedelta(seconds=10 * i + j / 100))
            for j, it in enumerate(items)
        ]
        df = spark.createDataFrame(
            rows, "item string, event_time timestamp"
        ).coalesce(1)
        part = os.path.join(str(tmp_path), f"hh_part_{i}")
        df.write.mode("overwrite").parquet(part)
        (src,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(path, f"batch_{i:03d}.parquet")
        os.rename(src, dst)
        mtime = time.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    stream = stream_parquet_dir(
        spark,
        path,
        "item string, event_time timestamp",
        max_files_per_trigger=1,
    )
    outs = {}

    def sink(df, bid):
        outs[bid] = df.collect()

    q = (
        heavy_hitters_by_shard(stream, m=4, shards=2)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # Final summary per shard = its rows from the last batch that
    # emitted it (every batch emits every touched shard).
    final = {}
    for bid in sorted(outs):
        for r in outs[bid]:
            final.setdefault(r.shard, {})
            if bid == max(
                b for b in outs if any(x.shard == r.shard for x in outs[b])
            ):
                final[r.shard][r.item] = (r.est_count, r.max_err)

    truth = collections.Counter(seq)
    shard_of = {
        r.item: r.shard
        for r in spark.createDataFrame(
            [(it,) for it in truth], "item string"
        )
        .select(
            "item",
            F.pmod(F.xxhash64("item"), F.lit(2)).alias("shard"),
        )
        .collect()
    }
    shard_n = collections.Counter()
    for it, c in truth.items():
        shard_n[shard_of[it]] += c

    for shard, mons in final.items():
        assert len(mons) <= 4  # bounded state
        for it, (est, err) in mons.items():
            assert est >= truth[it], (it, est, truth[it])
            assert est - err <= truth[it], (it, est, err, truth[it])
    # Guarantee: true frequency > n_shard/m implies presence.
    for it, c in truth.items():
        s = shard_of[it]
        if c > shard_n[s] / 4:
            assert it in final[s], (it, c, shard_n[s], final[s])


def _ref_zscore(vals, window=20, min_history=5, threshold=3.0):
    import numpy as np

    hist, out = [], []
    for v in vals:
        z = None
        if len(hist) >= min_history:
            arr = np.asarray(hist, dtype=float)
            sd = float(arr.std(ddof=1))
            if sd > 0:
                z = round((float(v) - float(arr.mean())) / sd, 3)
        out.append((z, z is not None and abs(z) > threshold))
        hist.append(float(v))
        hist = hist[-window:]
    return out


def test_streaming_zscore_matches_reference_fold(spark, tmp_path):
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        anomaly_zscore_by_key,
    )

    # Sensor 1: stable history then a spike — must flag the spike and
    # only the spike. Sensor 2: too little history — never scored.
    s1 = [30, 31, 29, 30, 32, 31, 30, 95, 30]
    batches = [
        [("1", t, i * 10) for i, t in enumerate(s1[:5])]
        + [("2", 50, 7)],
        [("1", t, (5 + i) * 10) for i, t in enumerate(s1[5:])]
        + [("2", 51, 17)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        anomaly_zscore_by_key(readings, min_history=5)
        .writeStream.format("memory")
        .queryName("zscore_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM zscore_test WHERE sensor_id = '1'"
        " ORDER BY event_time"
    ).collect()
    ref = _ref_zscore(s1, min_history=5)
    assert len(rows) == len(s1)
    for row, (z, flag) in zip(rows, ref):
        assert (row.z is None and z is None) or abs(row.z - z) < 1e-9
        assert row.is_anomaly == flag
    # The spike (95 after 7 stable points) is the single anomaly.
    assert [r.temperature for r in rows if r.is_anomaly] == [95]
    s2 = spark.sql(
        "SELECT * FROM zscore_test WHERE sensor_id = '2'"
    ).collect()
    assert all(r.z is None and not r.is_anomaly for r in s2)


def test_streaming_ohlc_bars_finalize_append(spark, tmp_path):
    from msk_flink_streaming_cdk_spark.streaming.stateful import ohlc_stream

    # Window [0,60): out-of-order arrivals — open is the EARLIEST
    # event (t=5, temp 33), close the LATEST (t=50, temp 29).
    # Window [60,120): single event. The t=200 row advances the
    # watermark so both bars finalize in append mode.
    batches = [
        [("1", 40, 20), ("1", 33, 5), ("1", 45, 35)],
        [("1", 29, 50), ("1", 27, 10), ("1", 31, 70)],
        [("1", 30, 200)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        ohlc_stream(readings, window="60 seconds", watermark="5 seconds")
        .writeStream.format("memory")
        .queryName("ohlc_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.window_start.second
        + r.window_start.minute * 60: r
        for r in spark.sql("SELECT * FROM ohlc_test").collect()
    }
    b0 = rows[0]
    assert (b0.open, b0.high, b0.low, b0.close, b0.n_events) == (
        33, 45, 27, 29, 5,
    )
    b1 = rows[60]
    assert (b1.open, b1.high, b1.low, b1.close, b1.n_events) == (
        31, 31, 31, 31, 1,
    )


def test_streaming_quantile_monitor_matches_batch_sketch(spark, tmp_path):
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        quantile_monitor_stream,
    )

    temps = [20, 25, 30, 35, 40, 45, 50, 55, 60, 100]
    batches = [
        [("1", t, 2 + i * 5) for i, t in enumerate(temps[:6])],
        [("1", t, 32 + i * 5) for i, t in enumerate(temps[6:])],
        [("1", 30, 300)],  # advances watermark, finalizes [0,60)
    ]
    src = _write_batches(spark, tmp_path, batches)
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        quantile_monitor_stream(readings)
        .writeStream.format("memory")
        .queryName("qmon_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        r
        for r in spark.sql("SELECT * FROM qmon_test").collect()
        if r.window_start.minute == 0 and r.window_start.second == 0
    ]
    assert len(rows) == 1
    bar = rows[0]
    # All 10 readings (across both micro-batches) land in [0,60).
    assert bar.n_events == 10
    # percentile_approx at accuracy 10k on 10 points is exact order
    # statistics; HLL on 10 distinct smallish longs is exact too.
    assert bar.p50 == 40
    assert bar.p99 == 100
    assert bar.n_values == 10


def test_zscore_state_survives_restart(spark, tmp_path):
    # The trailing-history array must survive a stop/restart: run 1
    # feeds 6 stable readings and stops; run 2 is a NEW query resuming
    # the same checkpoint and feeding a spike — it can only flag the
    # spike if the history state was restored (a fresh state would
    # have cnt < min_history and emit z = NULL).
    import glob as _glob
    import os as _os
    import time as _time

    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        anomaly_zscore_by_key,
    )

    sink = str(tmp_path / "zsink")
    ckpt = str(tmp_path / "zckpt")

    def run(src_path):
        readings = stream_parquet_dir(
            spark, src_path, SENSOR_READING, max_files_per_trigger=1
        )
        q = (
            anomaly_zscore_by_key(readings, min_history=5)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    stable = [("1", t, i * 10) for i, t in enumerate([30, 31, 29, 30, 32, 31])]
    src = _write_batches(spark, tmp_path, [stable], subdir="zsrc")
    run(src)

    spike = _write_batches(
        spark, tmp_path, [[("1", 95, 60), ("1", 30, 70)]], subdir="zextra"
    )
    for i, f in enumerate(sorted(_glob.glob(_os.path.join(spike, "*.parquet")))):
        dst = _os.path.join(src, f"late_{i:03d}.parquet")
        _os.rename(f, dst)
        m = _time.time() + i
        _os.utime(dst, (m, m))
    run(src)

    rows = sorted(
        spark.read.parquet(sink).collect(), key=lambda r: r.event_time
    )
    assert len(rows) == 8
    flagged = [r.temperature for r in rows if r.is_anomaly]
    assert flagged == [95], rows
    # The post-spike stable reading is scored against a history that
    # now CONTAINS the spike — z is present but below threshold.
    assert rows[-1].z is not None and not rows[-1].is_anomaly


def test_ewma_folds_in_event_time_order_across_arrow_chunks(
    spark, tmp_path
):
    # Regression for the multi-chunk fold bug: when one key's
    # micro-batch spans several Arrow chunks, the processor must sort
    # ONCE across the concatenation — per-chunk sorting folds chunks
    # in arrival order and diverges from the batch-ordered reference.
    # Force tiny chunks, write the rows in REVERSED event-time order
    # inside one file, and pin the result to the ordered fold.
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        n = 100
        rows = [("1", 20 + (i % 7), n - i) for i in range(n)]  # desc ts
        src = _write_batches(spark, tmp_path, [rows], subdir="chunks")
        readings = stream_parquet_dir(
            spark, src, SENSOR_READING, max_files_per_trigger=1
        )
        q = (
            ewma_by_key(readings, alpha=0.3)
            .writeStream.format("memory")
            .queryName("ewma_chunks")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r.sensor_id: (r.n_events, r.ewma)
            for r in spark.sql("select * from ewma_chunks").collect()
        }
        ordered = sorted(rows, key=lambda r: r[2])  # event-time order
        want = _ref_ewma([t for (_, t, _) in ordered])
        assert got["1"][0] == n
        assert abs(got["1"][1] - want) < 1e-9, (got["1"][1], want)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )


def test_countmin_stream_matches_batch_sketch(spark, tmp_path):
    # The streamed d x w cell table (built-in incremental aggregation,
    # complete mode) must equal the batch-built sketch over the same
    # rows cell-for-cell — the mergeable-sketch contract that lets a
    # stream keep a batch-bootstrapped sketch current.
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        countmin_stream,
    )

    batches = [
        [("1", 30, 0), ("1", 32, 10), ("2", 28, 5)],
        [("1", 27, 20), ("2", 31, 25), ("3", 29, 30)],
        [("3", 26, 40), ("1", 33, 50)],
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="cm")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        countmin_stream(readings, d=4, w=64)
        .writeStream.format("memory")
        .queryName("cm_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.j, r.cell): r.n
        for r in spark.sql("select * from cm_stream").collect()
    }
    batch_df = spark.read.parquet(src)
    want = {
        (r.j, r.cell): r.n
        for r in countmin_stream(batch_df, d=4, w=64).collect()
    }
    assert got == want
    # bounded-state contract: never more than d*w cells
    assert len(got) <= 4 * 64


def test_fold_ordered_single_chunk_paths():
    # The round-6 fast path: one already-sorted chunk passes through
    # untouched (no concat, no sort); one UNSORTED chunk still sorts;
    # multi-chunk still concat+sorts globally; empty -> None.
    import pandas as pd

    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        _fold_ordered,
    )

    sorted_chunk = pd.DataFrame({"t": [1, 2, 3], "v": [9, 8, 7]})
    out = _fold_ordered(iter([sorted_chunk]), "t")
    assert list(out["v"]) == [9, 8, 7]

    unsorted = pd.DataFrame({"t": [3, 1, 2], "v": [7, 9, 8]})
    out = _fold_ordered(iter([unsorted]), "t")
    assert list(out["t"]) == [1, 2, 3]
    assert list(out["v"]) == [9, 8, 7]

    c1 = pd.DataFrame({"t": [2, 4], "v": [1, 2]})
    c2 = pd.DataFrame({"t": [1, 3], "v": [3, 4]})
    out = _fold_ordered(iter([c1, c2]), "t")
    assert list(out["t"]) == [1, 2, 3, 4]
    assert list(out["v"]) == [3, 1, 4, 2]

    assert _fold_ordered(iter([]), "t") is None
    assert _fold_ordered(iter([sorted_chunk.iloc[:0]]), "t") is None


def test_session_timeout_matches_batch_sessionize(spark, tmp_path):
    # EventTimeTimeout sessionizer: gap-closed sessions emit in-batch,
    # the open session emits when the watermark passes last+gap, and
    # the emitted sessions equal the declarative batch session_window
    # over the same rows (the batch-twin contract).
    from msk_flink_streaming_cdk_spark.operators.relational import (
        sessionize,
    )
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        session_summary_by_key,
    )

    batches = [
        [("1", 30, 0), ("1", 32, 10)],
        [("1", 27, 50)],           # 50-10 >= 30 → closes session A
        [("9", 20, 500)],          # advances watermark past 50+30
        [("9", 21, 600)],          # next batch → timeout fires for "1"
    ]
    src = _write_batches(spark, tmp_path, batches)
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        session_summary_by_key(readings, gap_seconds=30)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (
            (r.session_start, r.session_end, r.n_events, r.sum_temp)
            for r in spark.sql(
                "SELECT * FROM sess_test WHERE sensor_id = '1'"
            ).collect()
        )
    )
    assert got == [
        (T0, T0 + timedelta(seconds=40), 2, 62),
        (
            T0 + timedelta(seconds=50),
            T0 + timedelta(seconds=80),
            1,
            27,
        ),
    ]

    # Batch twin: declarative session_window over the same rows.
    rows = [(s, t, T0 + timedelta(seconds=off)) for b in batches for (s, t, off) in b]
    batch_df = spark.createDataFrame(rows, SENSOR_READING)
    twin = sorted(
        (r.session_start, r.session_end, r.n_events)
        for r in sessionize(
            batch_df.filter("sensor_id = '1'"),
            "event_time",
            ["sensor_id"],
            "30 seconds",
            [F.count("*").alias("n_events")],
        ).collect()
    )
    assert twin == [(g[0], g[1], g[2]) for g in got]


def test_session_cross_batch_late_event_merges_min_max(spark, tmp_path):
    # Round-8 advice: a late-but-within-watermark event from a LATER
    # micro-batch arrives with t inside the stored session interval
    # (_fold_ordered only sorts within one batch). The sessionizer
    # must merge with min/max — overwriting would REGRESS session_end
    # to t=10, set the event-time timeout to 10+gap=40, and emit
    # session_end 40 instead of 50, diverging from the declarative
    # session_window twin.
    from msk_flink_streaming_cdk_spark.operators.relational import (
        sessionize,
    )
    from msk_flink_streaming_cdk_spark.streaming.stateful import (
        session_summary_by_key,
    )

    batches = [
        [("1", 30, 0), ("1", 31, 20)],  # session [0,20], wm -> 0
        [("1", 32, 10)],  # LATE: inside [0,20], above watermark
        [("9", 20, 100)],  # wm -> 70 > 20+30 → timeout fires for "1"
        [("9", 21, 200)],  # next trigger delivers the timeout emit
    ]
    src = _write_batches(spark, tmp_path, batches, subdir="sess_xlate")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        session_summary_by_key(
            readings, gap_seconds=30, watermark="30 seconds"
        )
        .writeStream.format("memory")
        .queryName("sess_xlate_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.session_start, r.session_end, r.n_events, r.sum_temp)
        for r in spark.sql(
            "SELECT * FROM sess_xlate_test WHERE sensor_id = '1'"
        ).collect()
    )
    # ONE session [0, 20+gap=50) with all 3 events — end did not
    # regress to the late event's time.
    assert got == [(T0, T0 + timedelta(seconds=50), 3, 93)]

    # Batch twin: declarative session_window over the same rows
    # (order-insensitive in batch) agrees.
    rows = [
        (s, t, T0 + timedelta(seconds=off))
        for b in batches
        for (s, t, off) in b
    ]
    batch_df = spark.createDataFrame(rows, SENSOR_READING)
    twin = sorted(
        (r.session_start, r.session_end, r.n_events)
        for r in sessionize(
            batch_df.filter("sensor_id = '1'"),
            "event_time",
            ["sensor_id"],
            "30 seconds",
            [F.count("*").alias("n_events")],
        ).collect()
    )
    assert twin == [(g[0], g[1], g[2]) for g in got]
