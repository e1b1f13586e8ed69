"""Config resolution + end-to-end reference job in file mode
(lifecycle parity with main.py:118-153)."""

from __future__ import annotations

import glob
import json
import math
import os
import time
from datetime import datetime, timedelta

import pytest

from msk_flink_streaming_cdk_spark.config import (
    ReferenceJobConfig,
    load_job_config,
)
from msk_flink_streaming_cdk_spark import jobs
from msk_flink_streaming_cdk_spark.jobs import run_reference_job
from msk_flink_streaming_cdk_spark.streaming import sinks
from msk_flink_streaming_cdk_spark.schemas import SENSOR_READING

T0 = datetime(2024, 1, 1)


def _props_file(tmp_path, alert_dir, bucket_dir):
    # Same JSON shape the managed runtime materializes for the
    # reference (main.py:99-109; stack property_groups 106-121).
    props = [
        {
            "PropertyGroupId": "producer.config.0",
            "PropertyMap": {
                "input.topic.name": "kfp_sensor_topic",
                "bootstrap.servers": "b-1:9098",
            },
        },
        {
            "PropertyGroupId": "consumer.config.0",
            "PropertyMap": {
                "output.topic.name": alert_dir,
                # the key the reference stack actually writes
                # (main.py:124, msk_flink_streaming_stack.py:117)
                "output.s3.bucket": bucket_dir,
            },
        },
    ]
    path = os.path.join(str(tmp_path), "application_properties.json")
    with open(path, "w") as f:
        json.dump(props, f)
    return path


def _write_source(spark, tmp_path, src, batches, first=0):
    """One parquet file per batch of (sensor_id, temperature, offset_s)
    rows, with increasing mtimes so the file source reads them in order."""
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches, start=first):
        data = [(s, t, T0 + timedelta(seconds=o)) for s, t, o in rows]
        df = spark.createDataFrame(data, SENSOR_READING).coalesce(1)
        stage = os.path.join(str(tmp_path), f"stage{i}")
        df.write.mode("overwrite").parquet(stage)
        (f,) = glob.glob(os.path.join(stage, "*.parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(f, dst)
        now = time.time()
        os.utime(dst, (now - 100 + i * 10, now - 100 + i * 10))


def _run_job(spark, cfg, src, ckpt):
    queries = run_reference_job(
        spark, cfg, mode="file", source_dir=src, checkpoint_root=ckpt
    )
    for q in queries:
        q.awaitTermination(120)
        assert q.exception() is None
    return queries


def _state_partitions(queries):
    """The state partition count each query's stateful operators report."""
    counts = []
    for q in queries:
        (n,) = {op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]}
        counts.append(n)
    return counts


def test_property_group_resolution(tmp_path):
    path = _props_file(tmp_path, "/tmp/a", "/tmp/b")
    cfg = load_job_config(path)
    assert cfg == ReferenceJobConfig(
        input_topic="kfp_sensor_topic",
        bootstrap_servers="b-1:9098",
        output_topic="/tmp/a",
        output_path="/tmp/b",
    )


def test_reference_job_file_mode_end_to_end(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    # One trigger takes both files; the closing no-data batch then
    # advances the watermark past the windows (append-mode emission
    # needs watermark progression between batches).
    batches = [
        [("1", 31, i) for i in range(0, 25, 5)] + [("1", 27, 40)],
        [("1", 27, 120)],
    ]
    _write_source(spark, tmp_path, src, batches)

    alert_dir = os.path.join(str(tmp_path), "alerts")
    bucket_dir = os.path.join(str(tmp_path), "bucket")
    cfg = load_job_config(_props_file(tmp_path, alert_dir, bucket_dir))
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    queries = _run_job(spark, cfg, src, os.path.join(str(tmp_path), "ckpt"))

    alerts = spark.read.json(alert_dir)
    assert alerts.count() == 1  # 5 hot rows in [0,30) → count_temp 5
    assert alerts.first().count_temp == 5
    part_glob = os.path.join(bucket_dir, "year=*", "month=*", "day=*", "hour=*")
    assert glob.glob(part_glob), "partitioned bucket output missing"
    # The two queries split the cores running the job, one state store
    # per core across the job, and the caller's session conf is left as
    # it was.
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
    per_query = max(1, spark.sparkContext.defaultParallelism // 2)
    assert _state_partitions(queries) == [per_query] * 2


def _sensor_batches(n_files, seconds_per_file=45, sensors=6):
    """Deterministic readings, one list per file, temperatures 25..35."""
    return [
        [
            (str(s), 25 + (t * 7 + s * 3) % 11, t)
            for t in range(i * seconds_per_file, (i + 1) * seconds_per_file, 3)
            for s in range(sensors)
        ]
        for i in range(n_files)
    ]


def _job_outputs(spark, cfg):
    alerts = sorted(tuple(r) for r in spark.read.json(cfg.output_topic).collect())
    averages = sorted(
        tuple(r)
        for r in spark.read.json(os.path.join(cfg.output_path, "year=*", "month=*", "day=*", "hour=*"))
        .select("sensor_id", "avg_temp", "start_event_time")
        .collect()
    )
    return alerts, averages


def test_reference_job_restart_keeps_checkpointed_state_partitions(spark, tmp_path, monkeypatch):
    # A restart against an existing checkpoint with a different sizing
    # must give the one-shot output: Spark restores the state partition
    # count frozen in the checkpoint's offset log at first start.
    batches = _sensor_batches(4)
    one_src = os.path.join(str(tmp_path), "one_src")
    _write_source(spark, tmp_path, one_src, batches)
    one_cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "one_alerts"), str(tmp_path / "one_bucket"))
    )
    _run_job(spark, one_cfg, one_src, os.path.join(str(tmp_path), "one_ckpt"))
    one_shot = _job_outputs(spark, one_cfg)
    assert one_shot[0] and one_shot[1]

    src = os.path.join(str(tmp_path), "src")
    cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "alerts"), str(tmp_path / "bucket"))
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")
    monkeypatch.setattr(jobs, "state_partitions", lambda spark: 3)
    _write_source(spark, tmp_path, src, batches[:2])
    assert _state_partitions(_run_job(spark, cfg, src, ckpt)) == [3, 3]

    monkeypatch.setattr(jobs, "state_partitions", lambda spark: 5)
    _write_source(spark, tmp_path, src, batches[2:], first=2)
    assert _state_partitions(_run_job(spark, cfg, src, ckpt)) == [3, 3]
    assert _job_outputs(spark, cfg) == one_shot


def _checkpoint_managers(queries):
    return [
        q._jsq.streamingQuery().offsetLog().fileManager().getClass().getSimpleName()
        for q in queries
    ]


def test_reference_job_resumes_checkpoint_across_the_manager_switch(spark, tmp_path, monkeypatch):
    # Checkpoints that Spark's default FileContext-based manager wrote
    # resume under the FileSystem-based one that local checkpoints now
    # get: the restarted job's output equals a one-shot run.
    batches = _sensor_batches(4)
    one_src = os.path.join(str(tmp_path), "one_src")
    _write_source(spark, tmp_path, one_src, batches)
    one_cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "one_alerts"), str(tmp_path / "one_bucket"))
    )
    _run_job(spark, one_cfg, one_src, os.path.join(str(tmp_path), "one_ckpt"))
    one_shot = _job_outputs(spark, one_cfg)
    assert one_shot[0] and one_shot[1]

    src = os.path.join(str(tmp_path), "src")
    cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "alerts"), str(tmp_path / "bucket"))
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")
    with monkeypatch.context() as m:
        m.setattr(
            sinks,
            "LOCAL_CHECKPOINT_MANAGER",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager",
        )
        _write_source(spark, tmp_path, src, batches[:2])
        queries = _run_job(spark, cfg, src, ckpt)
    assert _checkpoint_managers(queries) == ["FileContextBasedCheckpointFileManager"] * 2

    _write_source(spark, tmp_path, src, batches[2:], first=2)
    queries = _run_job(spark, cfg, src, ckpt)
    assert _checkpoint_managers(queries) == ["FileSystemBasedCheckpointFileManager"] * 2
    assert _job_outputs(spark, cfg) == one_shot


@pytest.mark.parametrize(
    "query",
    [
        "q1",
        pytest.param(
            "q2",
            marks=pytest.mark.xfail(
                strict=True,
                reason="ROADMAP direction 1: write_partitioned_files "
                "appends a replayed batch a second time",
            ),
        ),
    ],
)
def test_reference_job_replayed_batch_matches_one_shot(spark, tmp_path, query):
    # A crash after a batch's write and before its commit-log entry
    # replays the batch on restart; the output must equal a one-shot
    # run. The last file's reading at 1000 s moves the watermark past
    # every earlier window, so the replayed closing batch emits the
    # windows starting at 120 s in both queries.
    batches = _sensor_batches(3) + [[("1", 27, 1000)]]
    src = os.path.join(str(tmp_path), "src")
    _write_source(spark, tmp_path, src, batches)
    one_cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "one_alerts"), str(tmp_path / "one_bucket"))
    )
    _run_job(spark, one_cfg, src, os.path.join(str(tmp_path), "one_ckpt"))
    one_shot = _job_outputs(spark, one_cfg)
    closing = "2024-01-01T00:02:00.000Z"  # T0 + 120 s, as the JSON holds it
    assert [r for r in one_shot[0] if closing in r]
    assert [r for r in one_shot[1] if closing in r]

    cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "alerts"), str(tmp_path / "bucket"))
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _run_job(spark, cfg, src, ckpt)
    commits = os.path.join(ckpt, query, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for name in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    _run_job(spark, cfg, src, ckpt)
    which = ["q1", "q2"].index(query)
    assert _job_outputs(spark, cfg)[which] == one_shot[which]


def _data_batches(query):
    return sum(1 for p in query.recentProgress if p["numInputRows"] > 0)


def _dropped_late(query):
    return sum(
        op["numRowsDroppedByWatermark"]
        for p in query.recentProgress
        for op in p["stateOperators"]
    )


def test_reference_job_drains_one_file_per_core_per_trigger(spark, tmp_path, monkeypatch):
    # A backlog of more files than cores drains in ⌈files ÷ cores⌉ data
    # batches per query. Each file also carries rows up to 4 s older
    # than the previous file's latest event, disorder inside the 5 s
    # watermark, so the output equals a one-file-per-trigger replay.
    cores = spark.sparkContext.defaultParallelism
    n_files = 2 * cores + 1
    batches = [
        [(s, t, o - 4 if i and (o // 3) % 5 == 0 else o) for s, t, o in rows]
        for i, rows in enumerate(_sensor_batches(n_files))
    ]
    src = os.path.join(str(tmp_path), "src")
    _write_source(spark, tmp_path, src, batches)
    cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "alerts"), str(tmp_path / "bucket"))
    )
    queries = _run_job(spark, cfg, src, os.path.join(str(tmp_path), "ckpt"))
    assert [_data_batches(q) for q in queries] == [math.ceil(n_files / cores)] * 2
    assert [_dropped_late(q) for q in queries] == [0, 0]

    monkeypatch.setattr(jobs, "files_per_trigger", lambda spark: 1)
    one_cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "one_alerts"), str(tmp_path / "one_bucket"))
    )
    one_file = _run_job(spark, one_cfg, src, os.path.join(str(tmp_path), "one_ckpt"))
    assert [_data_batches(q) for q in one_file] == [n_files] * 2
    one = _job_outputs(spark, one_cfg)
    assert one[0] and one[1]
    assert _job_outputs(spark, cfg) == one


def test_reference_job_keeps_disorder_beyond_the_watermark_within_a_trigger(
    spark, tmp_path, monkeypatch
):
    # Spark drops a row as late against the watermark the previous
    # trigger ran with, so with disorder beyond the 5 s watermark the
    # output depends on how many files share a trigger, that is on the
    # cores running the job. Sensor 99's hot readings in [0, 30) land
    # two files after one whose latest row is at 100 s: kept when the
    # three files share a trigger, dropped when each file is its own
    # trigger. Sensor 1 raises an alert either way.
    on_time = [("1", 35, o) for o in range(60, 70, 2)] + [("1", 27, 100)]
    late = [("99", 40, o) for o in range(0, 10, 2)]
    batches = [on_time, [("1", 27, 110)], late + [("1", 27, 200)]]
    src = os.path.join(str(tmp_path), "src")
    _write_source(spark, tmp_path, src, batches)

    def run(name, files):
        monkeypatch.setattr(jobs, "files_per_trigger", lambda spark: files)
        cfg = load_job_config(
            _props_file(tmp_path, str(tmp_path / f"{name}_alerts"), str(tmp_path / f"{name}_bucket"))
        )
        queries = _run_job(spark, cfg, src, os.path.join(str(tmp_path), f"{name}_ckpt"))
        assert [_data_batches(q) for q in queries] == [len(batches) // files] * 2
        alerts, averages = _job_outputs(spark, cfg)
        assert [r for r in alerts if "1" in r]
        return (
            [_dropped_late(q) for q in queries],
            [r for r in alerts if "99" in r],
            [r for r in averages if r[0] == "99"],
        )

    dropped, alerts, averages = run("shared", 3)
    assert dropped == [0, 0]
    assert len(alerts) == 1 and 5 in alerts[0]
    assert len(averages) == 1 and averages[0][1] == 40.0

    dropped, alerts, averages = run("one", 1)
    assert all(n > 0 for n in dropped)
    assert alerts == [] and averages == []


def test_reference_job_drops_a_late_row_after_a_restart(spark, tmp_path):
    # A row older than the watermark restored from the checkpoint,
    # landing in a later run on the same checkpoint, is dropped: sensor
    # 99's hot readings in [0, 30) would raise an alert and an average
    # if they were kept.
    src = os.path.join(str(tmp_path), "src")
    _write_source(spark, tmp_path, src, _sensor_batches(2))
    cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "alerts"), str(tmp_path / "bucket"))
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _run_job(spark, cfg, src, ckpt)

    late = [("99", 40, o) for o in range(0, 10, 2)]
    _write_source(spark, tmp_path, src, [late + [("1", 27, 200)]], first=2)
    queries = _run_job(spark, cfg, src, ckpt)
    assert all(_dropped_late(q) > 0 for q in queries)
    alerts, averages = _job_outputs(spark, cfg)
    assert alerts and averages
    assert not [r for r in alerts if "99" in r]
    assert not [r for r in averages if r[0] == "99"]


def test_main_runs_kafka_mode_live_and_file_mode_to_completion(tmp_path, monkeypatch):
    # Kafka mode is a live job: both queries get the same trigger and run
    # until stopped (main.py:146-153). File mode drains, then stops.
    import sys

    from msk_flink_streaming_cdk_spark import jobs

    calls = []
    monkeypatch.setattr(jobs, "get_spark", lambda **kw: None)
    monkeypatch.setattr(jobs, "load_job_config", lambda path: None)
    monkeypatch.setattr(
        jobs, "run_reference_job", lambda *a, **kw: calls.append(kw) or []
    )
    props = _props_file(tmp_path, "/tmp/a", "/tmp/b")
    for argv in (["--mode", "kafka"], ["--mode", "file", "--source-dir", "in"]):
        monkeypatch.setattr(sys, "argv", ["jobs", "--properties", props, *argv])
        jobs.main()
    assert [c["mode"] for c in calls] == ["kafka", "file"]
    assert calls[0]["trigger"] == {"processingTime": "0 seconds"}
    assert calls[1]["trigger"] is None


def test_reference_job_runs_both_queries_on_the_given_trigger(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    _write_source(spark, tmp_path, src, _sensor_batches(1))
    cfg = load_job_config(
        _props_file(tmp_path, str(tmp_path / "alerts"), str(tmp_path / "bucket"))
    )
    queries = run_reference_job(
        spark,
        cfg,
        mode="file",
        source_dir=src,
        checkpoint_root=os.path.join(str(tmp_path), "ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:
        deadline = time.time() + 120
        while any(q.lastProgress is None for q in queries):
            assert time.time() < deadline, "no progress within 120 s"
            assert all(q.exception() is None for q in queries)
            time.sleep(0.2)
        # Still running after their first batch: a live trigger keeps a
        # query alive, where availableNow would have drained and ended.
        assert [q.isActive for q in queries] == [True, True]
        # Stop between batches: stopping inside a Python foreachBatch
        # ends the stream thread with an error.
        for q in queries:
            q.processAllAvailable()
        while any(q.status["isTriggerActive"] for q in queries):
            time.sleep(0.1)
    finally:
        for q in queries:
            q.stop()
    assert all(q.exception() is None for q in queries)


def test_cli_list_and_run(tmp_path, capsys, spark, sf_small):
    from msk_flink_streaming_cdk_spark.cli import main

    assert main(["list", "q1_alerts"]) == 0
    out = capsys.readouterr().out
    assert "q1_alerts_daily\toracle" in out

    dest = str(tmp_path / "out")
    assert (
        main(
            [
                "run", "agg_pricing_summary",
                "--sf-dir", sf_small,
                "--output", dest,
                "--format", "parquet",
            ]
        )
        == 0
    )
    assert spark.read.parquet(dest).count() == 6

    assert main(["run", "agg_pricing_summary", "--sf-dir", sf_small,
                 "--explain"]) == 0
    assert "Physical Plan" in capsys.readouterr().out

    assert main(["run", "nope_not_a_query"]) == 2
