"""Config resolution + end-to-end reference job in file mode
(lifecycle parity with main.py:118-153)."""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime, timedelta

from msk_flink_streaming_cdk_spark.config import (
    ReferenceJobConfig,
    load_job_config,
)
from msk_flink_streaming_cdk_spark.jobs import run_reference_job
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
    # two files → two micro-batches, so the second advances the
    # watermark past the first's windows (append-mode emission needs
    # watermark progression between batches).
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
    # The state stores are sized to the cores running the job, and the
    # caller's session conf is left as it was.
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
    assert _state_partitions(queries) == [spark.sparkContext.defaultParallelism] * 2


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
    from msk_flink_streaming_cdk_spark.streaming import pipelines

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
    monkeypatch.setattr(pipelines, "state_partitions", lambda spark: 3)
    _write_source(spark, tmp_path, src, batches[:2])
    assert _state_partitions(_run_job(spark, cfg, src, ckpt)) == [3, 3]

    monkeypatch.setattr(pipelines, "state_partitions", lambda spark: 5)
    _write_source(spark, tmp_path, src, batches[2:], first=2)
    assert _state_partitions(_run_job(spark, cfg, src, ckpt)) == [3, 3]
    assert _job_outputs(spark, cfg) == one_shot


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
