"""Streaming semantics tests (SURVEY §5.2).

Deterministic replay: reference-shaped rows written as one parquet file
per intended micro-batch (``maxFilesPerTrigger=1`` + staggered mtimes),
run with availableNow. Asserts window finalization under the watermark,
append-mode emission, late-row drop, and the partitioned-sink layout
(year=/month=/day=/hour= + per-partition _SUCCESS).
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime, timedelta
from functools import partial

import pytest

from msk_flink_streaming_cdk_spark.jobs import REFERENCE_WATERMARK
from msk_flink_streaming_cdk_spark.operators.reference import (
    q1_high_temp_alerts,
    q2_windowed_avg,
)
from msk_flink_streaming_cdk_spark.schemas import SENSOR_READING
from msk_flink_streaming_cdk_spark.sources.files import stream_parquet_dir
from msk_flink_streaming_cdk_spark.streaming.sinks import (
    CHECKPOINT_MANAGER_KEY,
    LOCAL_CHECKPOINT_MANAGER,
    checkpoint_conf,
    foreach_batch_publisher,
    memory_sink,
    start,
    write_partitioned_files,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)

# The reference job's two streaming transforms, as ``jobs`` builds them.
q1_stream = partial(q1_high_temp_alerts, watermark=REFERENCE_WATERMARK)
q2_stream = partial(q2_windowed_avg, watermark=REFERENCE_WATERMARK)


def _write_batches(spark, tmpdir, batches):
    """Write each list of (sensor_id, temp, offset_s) as one parquet
    file with increasing mtime so the file source replays in order."""
    path = os.path.join(str(tmpdir), "stream_src")
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(batches):
        data = [
            (s, t, T0 + timedelta(seconds=off)) for (s, t, off) in rows
        ]
        df = spark.createDataFrame(data, SENSOR_READING).coalesce(1)
        part = os.path.join(str(tmpdir), f"part_{i}")
        df.write.mode("overwrite").parquet(part)
        (src,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(path, f"batch_{i:03d}.parquet")
        os.rename(src, dst)
        mtime = time.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))
    return path


def _run_to_memory(spark, src_path, transform, name):
    readings = stream_parquet_dir(
        spark, src_path, SENSOR_READING, max_files_per_trigger=1
    )
    q = memory_sink(transform(readings), name)
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_q1_append_emits_only_finalized_windows_and_drops_late(spark, tmp_path):
    # batch 0: 5 hot rows in window [0,30) + a row at t=40 that pushes
    #          the watermark to 35 (>30) for the next batch
    # batch 1: watermark 35 → window [0,30) is finalized and evicted
    # batch 2: a LATE hot row at t=5 → dropped (state evicted)
    #
    # Note the Spark/Flink delta: Flink's per-record watermark drops a
    # late row as soon as the watermark passed the window end; Spark's
    # micro-batch watermark only guarantees drops after state eviction
    # (a late row arriving in the SAME batch as the eviction still
    # merges — Structured Streaming's documented one-directional
    # guarantee). The reference's 5s-watermark semantics are preserved
    # modulo that batch-granularity difference.
    batches = [
        [("1", 31, 0), ("1", 32, 2), ("1", 31, 4), ("1", 32, 6),
         ("1", 31, 8), ("1", 31, 40)],
        [("1", 31, 50)],
        [("1", 32, 5), ("1", 31, 100)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    out = _run_to_memory(spark, src, q1_stream, "q1_late_test")
    rows = {(r.sensor_id, r.start_event_time): r.count_temp for r in out.collect()}
    # window [0,30): count 5 from batch 0 only; late row at t=5 dropped.
    assert rows == {("1", T0): 5}


def test_q1_window_below_having_threshold_suppressed(spark, tmp_path):
    batches = [
        [("2", 31, 0), ("2", 32, 2), ("2", 31, 40)],  # only 2 hot rows in [0,30)
        [("2", 31, 100)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    out = _run_to_memory(spark, src, q1_stream, "q1_having_test")
    assert out.count() == 0


def test_foreach_batch_publisher_publishes_each_alert(spark, tmp_path):
    # Q1 alerts through the SNS-shaped publisher: every alert row is
    # published once, from the executors, as one record.
    batches = [
        [("1", 31, 0), ("1", 32, 2), ("1", 31, 4), ("1", 32, 6),
         ("2", 33, 1), ("2", 34, 3), ("2", 35, 5), ("2", 36, 7),
         ("2", 31, 9), ("1", 27, 40)],
        [("2", 31, 41), ("2", 32, 42), ("2", 33, 43), ("2", 34, 44),
         ("1", 27, 100)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    sent = os.path.join(str(tmp_path), "published.jsonl")

    def publish(record):
        with open(sent, "a") as f:
            f.write(json.dumps(record, default=str, sort_keys=True) + "\n")

    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = (
        q1_stream(readings)
        .writeStream.foreachBatch(foreach_batch_publisher(publish))
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_pub"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None

    with open(sent) as f:
        published = sorted(f.read().splitlines())
    alerts = _run_to_memory(spark, src, q1_stream, "q1_publisher_test")
    expected = sorted(
        json.dumps(r.asDict(), default=str, sort_keys=True) for r in alerts.collect()
    )
    assert len(expected) == 3  # sensor 1 [0,30); sensor 2 [0,30) and [30,60)
    assert published == expected


def test_q2_avg_bigint_parity_and_final_emission(spark, tmp_path):
    # window [0,60): temps 27,28,32 → avg 29.0 → BIGINT 29
    # window [60,120): temps 30,31 → avg 30.5 → BIGINT 30 (floor parity
    # with Flink AVG(BIGINT)); emitted because batch 1 pushes the
    # watermark past 120.
    batches = [
        [("1", 27, 0), ("1", 28, 10), ("1", 32, 20), ("1", 30, 60),
         ("1", 31, 70)],
        [("1", 27, 200)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    out = _run_to_memory(spark, src, q2_stream, "q2_avg_test")
    rows = {r.start_event_time: r.avg_temp for r in out.collect()}
    assert rows[T0] == 29
    assert rows[T0 + timedelta(seconds=60)] == 30
    # time-part columns (main.py:92 parity)
    r = out.filter("start_event_time = timestamp'2024-01-01 00:00:00'").first()
    assert (r.year, r.month, r.day, r.hour) == (2024, 1, 1, 0)


def test_partitioned_file_sink_layout_and_success_files(spark, tmp_path):
    batches = [
        [("1", 27, 0), ("1", 29, 10), ("2", 32, 30)],
        [("1", 28, 7200)],  # hour 2 → watermark passes hour-0 windows
    ]
    src = _write_batches(spark, tmp_path, batches)
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    out_dir = os.path.join(str(tmp_path), "s3_sink")
    ckpt = os.path.join(str(tmp_path), "ckpt_sink")
    q = write_partitioned_files(q2_stream(readings), out_dir, ckpt)
    q.awaitTermination(120)
    part_dir = os.path.join(out_dir, "year=2024", "month=1", "day=1", "hour=0")
    assert os.path.isdir(part_dir), os.listdir(out_dir)
    assert os.path.exists(os.path.join(part_dir, "_SUCCESS"))
    data = spark.read.json(os.path.join(out_dir, "year=*", "month=*", "day=*", "hour=*"))
    assert data.count() >= 2  # both sensors' hour-0 windows committed


def _drain_to_partitioned_files(spark, tmp_path, src, name):
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    out_dir = os.path.join(str(tmp_path), f"{name}_sink")
    q = write_partitioned_files(
        q2_stream(readings), out_dir, os.path.join(str(tmp_path), f"{name}_ckpt")
    )
    assert q.awaitTermination(120), "partitioned sink did not drain"
    assert q.exception() is None
    return q, out_dir


def _hour_dirs(out_dir, name):
    """Relative partition dirs under ``out_dir`` holding a file ``name``."""
    return {
        os.path.relpath(os.path.dirname(f), out_dir)
        for f in glob.glob(
            os.path.join(out_dir, "year=*", "month=*", "day=*", "hour=*", name)
        )
    }


def test_partitioned_file_sink_runs_one_job_per_batch(spark, tmp_path):
    # The touched partitions come from the write's own observed metric:
    # a second action over the batch would run the stateful plan again
    # (a second load and commit of every state store).
    batches = [
        [(str(s), 25 + s, off) for s in range(4) for off in (0, 20, 40)],
        [(str(s), 30 + s, off) for s in range(4) for off in (70, 100)],
        [("1", 28, 200)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    q, out_dir = _drain_to_partitioned_files(spark, tmp_path, src, "jobs")
    assert _hour_dirs(out_dir, "_SUCCESS"), os.listdir(out_dir)
    n_batches = len(q.recentProgress)
    assert n_batches >= len(batches)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == n_batches, (len(jobs), n_batches)


def test_partitioned_file_sink_marks_exactly_the_touched_hours(spark, tmp_path):
    # First file alone: its windows stay open under the watermark, so
    # every batch is empty. The sink must return without a marker.
    first = [("1", 27, 3585), ("2", 31, 3590), ("1", 29, 3600), ("2", 26, 3600)]
    src = _write_batches(spark, tmp_path / "open", [first])
    q, out_dir = _drain_to_partitioned_files(spark, tmp_path, src, "open")
    assert q.recentProgress
    assert _hour_dirs(out_dir, "_SUCCESS") == set()

    # The second file moves the watermark past both hours' windows:
    # one batch writes hour 0 and hour 1, the hour-2 row stays in
    # state, and only the two written hours get a marker.
    src = _write_batches(spark, tmp_path / "closed", [first, [("1", 28, 7300)]])
    _, out_dir = _drain_to_partitioned_files(spark, tmp_path, src, "closed")
    hours = {
        os.path.join("year=2024", "month=1", "day=1", f"hour={h}") for h in (0, 1)
    }
    assert _hour_dirs(out_dir, "_SUCCESS") == hours
    assert _hour_dirs(out_dir, "part-*") == hours


FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.mark.parametrize("caller", [None, FILE_CONTEXT_MANAGER])
def test_start_writes_local_checkpoint_logs_through_filesystem_api(
    spark, tmp_path, caller
):
    # A checkpoint on the local filesystem gets the FileSystem-based
    # manager for its offset and commit logs, whatever the caller's
    # session holds, and the caller's value of the key is left as it was.
    src = _write_batches(spark, tmp_path, [[("1", 31, 0)]])
    readings = stream_parquet_dir(spark, src, SENSOR_READING)
    if caller is not None:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, caller)
    try:
        q = start(
            readings.writeStream.format("noop"), str(tmp_path / "ckpt")
        )
        assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) == caller
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
    assert q.awaitTermination(120)
    sq = q._jsq.streamingQuery()
    for log in (sq.offsetLog(), sq.commitLog()):
        name = log.fileManager().getClass().getName()
        assert name.endswith("FileSystemBasedCheckpointFileManager"), name


def test_checkpoint_conf_leaves_other_schemes_to_spark_default(spark, tmp_path):
    # Only the local filesystem gets the switch; an HDFS checkpoint (the
    # client is built, nothing is contacted) keeps Spark's default.
    local = {CHECKPOINT_MANAGER_KEY: LOCAL_CHECKPOINT_MANAGER}
    assert checkpoint_conf(spark, str(tmp_path / "ckpt")) == local
    assert checkpoint_conf(spark, (tmp_path / "ckpt").as_uri()) == local
    assert checkpoint_conf(spark, "hdfs://localhost:1/ckpt") == {}


def test_upsert_latest_sink_merges_and_is_idempotent(spark, tmp_path):
    # Latest-per-key upsert target: batch0 seeds sensors 1/2, batch1
    # updates sensor 1 and adds 3. Final table = one row per sensor
    # with the newest temperature; re-running the merge with batch1's
    # rows again (a checkpoint-recovery replay) must change nothing.
    from msk_flink_streaming_cdk_spark.streaming.sinks import (
        upsert_latest_sink,
    )

    batches = [
        [("1", 30, 0), ("2", 28, 5)],
        [("1", 35, 20), ("3", 31, 25)],
    ]
    src = _write_batches(spark, tmp_path, batches)
    target = os.path.join(str(tmp_path), "upsert_target")
    readings = stream_parquet_dir(
        spark, src, SENSOR_READING, max_files_per_trigger=1
    )
    q = upsert_latest_sink(
        readings,
        target,
        os.path.join(str(tmp_path), "upsert_ckpt"),
        key_cols=("sensor_id",),
        time_col="event_time",
        num_buckets=8,
    )
    q.awaitTermination(120)

    def snapshot():
        return sorted(
            (r.sensor_id, r.temperature)
            for r in spark.read.parquet(target)
            .select("sensor_id", "temperature")
            .collect()
        )

    assert snapshot() == [("1", 35), ("2", 28), ("3", 31)]
    # bucket layout: hive dirs named __bucket=N
    assert glob.glob(os.path.join(target, "__bucket=*"))

    # replay idempotency: feed batch1 again through a fresh stream
    # (new checkpoint), as recovery would after a lost commit.
    replay_src = _write_batches(
        spark, os.path.join(str(tmp_path), "replay"), [batches[1]]
    )
    replay = stream_parquet_dir(
        spark, replay_src, SENSOR_READING, max_files_per_trigger=1
    )
    q2 = upsert_latest_sink(
        replay,
        target,
        os.path.join(str(tmp_path), "upsert_ckpt2"),
        key_cols=("sensor_id",),
        time_col="event_time",
        num_buckets=8,
    )
    q2.awaitTermination(120)
    assert snapshot() == [("1", 35), ("2", 28), ("3", 31)]


def test_streaming_observe_metrics_surface(spark, tmp_path):
    # df.observe() rides the micro-batch for free (no extra pass) and
    # surfaces per-batch ingest metrics in StreamingQueryProgress —
    # the ops hook a 100 TB pipeline uses to alert on volume/quality
    # drift without a second aggregation job.
    import glob
    import os
    import time as _t
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from msk_flink_streaming_cdk_spark.schemas import SENSOR_READING
    from msk_flink_streaming_cdk_spark.sources.files import stream_parquet_dir

    t0 = datetime(2024, 1, 1)
    rows = [("1", 31, 0), ("1", 28, 10), ("2", 33, 20), ("2", 29, 30)]
    data = [(s, t, t0 + timedelta(seconds=o)) for s, t, o in rows]
    src = os.path.join(str(tmp_path), "observe_src")
    os.makedirs(src, exist_ok=True)
    part = os.path.join(str(tmp_path), "observe_part")
    spark.createDataFrame(data, SENSOR_READING).coalesce(1).write.mode(
        "overwrite"
    ).parquet(part)
    (f,) = glob.glob(os.path.join(part, "*.parquet"))
    os.rename(f, os.path.join(src, "b0.parquet"))

    readings = stream_parquet_dir(spark, src, SENSOR_READING)
    observed = readings.observe(
        "ingest",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("temperature") > 30).cast("long")).alias("n_hot"),
    )
    q = (
        observed.writeStream.format("noop")
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "obs_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # progress events are async after termination; poll briefly
    metrics = None
    for _ in range(50):
        for p in q.recentProgress:
            om = p.get("observedMetrics", {}) if isinstance(p, dict) else {}
            if "ingest" in om:
                metrics = om["ingest"]
        if metrics:
            break
        _t.sleep(0.1)
    assert metrics is not None, "no observed metrics in progress"
    assert metrics["n_rows"] == 4
    assert metrics["n_hot"] == 2


def test_streaming_near_dup_admission_matches_batch(spark, tmp_path, sf_small):
    # The streaming admission gate must produce, across any
    # micro-batch split of the incoming docs, exactly the decisions
    # the batch operator produces on the whole incoming set — a doc's
    # decision depends only on (doc, corpus). Replay the sf0.001
    # incoming slice in single-file micro-batches and diff.
    import glob
    import os

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        incremental_near_dup,
    )
    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        near_dup_admission_stream,
    )

    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    corpus = docs.filter("doc_id % 5 != 0")
    incoming = docs.filter("doc_id % 5 = 0").select(
        "doc_id", "text", "n_chars"
    )

    # Split incoming into 3 files (micro-batches) by doc_id band.
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    import time as _t

    for i, pred in enumerate(
        ("doc_id < 150", "doc_id >= 150 and doc_id < 300", "doc_id >= 300")
    ):
        part = str(tmp_path / f"part{i}")
        incoming.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            part
        )
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    stream = stream_parquet_dir(
        spark, src, incoming.schema, max_files_per_trigger=1
    )
    got = []
    n_batches = []

    def sink(df, bid):
        got.extend(
            (r.doc_id, r.matched_doc, round(r.jaccard, 9))
            for r in df.collect()
        )
        n_batches.append(bid)

    q = near_dup_admission_stream(
        stream, corpus, str(tmp_path / "ckpt"), sink
    )
    q.awaitTermination()
    assert len(n_batches) == 3  # one decision set per micro-batch

    want = {
        (r.doc_id, r.matched_doc, round(r.jaccard, 9))
        for r in incremental_near_dup(corpus, incoming).collect()
    }
    assert set(got) == want and len(got) == len(want)
    assert want, "fixture must produce at least one near-dup decision"


def test_streaming_embedding_admission_matches_batch(spark, tmp_path, sf_small):
    # The embedding gate's decisions across any micro-batch split must
    # equal the batch operator on the whole incoming set (a vector's
    # decision depends only on (vector, corpus)).
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.operators.similarity import (
        incremental_embedding_near_dup,
    )
    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        embedding_admission_stream,
    )

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter("vec_id % 4 != 0")
    incoming = emb.filter("vec_id % 4 = 0")

    src = str(tmp_path / "emb_in")
    os.makedirs(src)
    for i, pred in enumerate(("vec_id < 40", "vec_id >= 40")):
        part = str(tmp_path / f"embpart{i}")
        incoming.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            part
        )
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    stream = stream_parquet_dir(
        spark, src, incoming.schema, max_files_per_trigger=1
    )
    got = []
    n_batches = []

    def sink(df, bid):
        got.extend(
            (r.vec_id, r.matched_vec, round(r.cosine, 9))
            for r in df.collect()
        )
        n_batches.append(bid)

    q = embedding_admission_stream(
        stream, corpus, str(tmp_path / "emb_ckpt"), sink, threshold=0.4
    )
    q.awaitTermination()
    assert len(n_batches) == 2

    want = {
        (r.vec_id, r.matched_vec, round(r.cosine, 9))
        for r in incremental_embedding_near_dup(
            corpus, incoming, threshold=0.4
        ).collect()
    }
    assert set(got) == want and len(got) == len(want)
    assert want, "fixture must produce at least one embedding match"


def test_streaming_component_maintenance_reaches_full_cc(spark, tmp_path):
    # Edges stream in three micro-batches; after the replay the
    # maintained labeling must equal full-graph CC — including
    # cross-batch merges (components that only connect via a later
    # batch's bridge edge).
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
    )
    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        component_maintenance_stream,
    )

    batches = [
        [(1, 2), (3, 4), (10, 11)],
        [(5, 6), (2, 3)],          # bridges {1,2} and {3,4}
        [(4, 5), (20, 21)],        # bridges the merged chain and {5,6}
    ]
    src = str(tmp_path / "edges")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = str(tmp_path / f"epart{i}")
        spark.createDataFrame(
            rows, "doc_a long, doc_b long"
        ).coalesce(1).write.mode("overwrite").parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    schema = "doc_a long, doc_b long"
    from pyspark.sql.types import _parse_datatype_string

    stream = stream_parquet_dir(
        spark, src, _parse_datatype_string(schema), max_files_per_trigger=1
    )
    seen = []
    q, state = component_maintenance_stream(
        stream,
        str(tmp_path / "cc_ckpt"),
        on_update=lambda df, bid: seen.append(bid),
    )
    q.awaitTermination()
    assert seen == [0, 1, 2]

    all_edges = spark.createDataFrame(
        [e for rows in batches for e in rows], schema
    )
    want = {
        (r.node, r.label)
        for r in connected_components(all_edges).collect()
    }
    got = {(r.node, r.label) for r in state["labels"].collect()}
    assert got == want
    # the cross-batch merges really collapsed: 1..6 one component
    labels = {r.node: r.label for r in state["labels"].collect()}
    assert len({labels[n] for n in (1, 2, 3, 4, 5, 6)}) == 1


def test_component_maintenance_restart_from_initial_labels(
    spark, tmp_path
):
    # The documented restart contract: the labeling is the pipeline's
    # own maintained table — a restarted run passes it back as
    # initial_labels and must end at the same full-graph CC as an
    # uninterrupted run over all edges.
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
    )
    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        component_maintenance_stream,
    )
    from pyspark.sql.types import _parse_datatype_string

    schema = "doc_a long, doc_b long"
    run1 = [[(1, 2), (3, 4)]]
    run2 = [[(2, 3), (5, 6)], [(4, 5)]]

    def stage(batches, subdir):
        src = str(tmp_path / subdir)
        os.makedirs(src)
        for i, rows in enumerate(batches):
            part = str(tmp_path / f"{subdir}_p{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(part)
            (f,) = glob.glob(os.path.join(part, "*.parquet"))
            dst = os.path.join(src, f"b{i}.parquet")
            os.rename(f, dst)
            mt = _t.time() - 1000 + i * 10
            os.utime(dst, (mt, mt))
        return src

    st = _parse_datatype_string(schema)
    q1, s1 = component_maintenance_stream(
        stream_parquet_dir(
            spark, stage(run1, "run1"), st, max_files_per_trigger=1
        ),
        str(tmp_path / "ck1"),
    )
    q1.awaitTermination()
    # "Persist" the maintained table between runs, then restart.
    saved = [tuple(r) for r in s1["labels"].collect()]
    restored = spark.createDataFrame(saved, "node long, label long")
    q2, s2 = component_maintenance_stream(
        stream_parquet_dir(
            spark, stage(run2, "run2"), st, max_files_per_trigger=1
        ),
        str(tmp_path / "ck2"),
        initial_labels=restored,
    )
    q2.awaitTermination()

    all_edges = spark.createDataFrame(
        [e for rows in run1 + run2 for e in rows], schema
    )
    want = {
        (r.node, r.label)
        for r in connected_components(all_edges).collect()
    }
    got = {(r.node, r.label) for r in s2["labels"].collect()}
    assert got == want
    labels = dict(got)
    assert len({labels[n] for n in (1, 2, 3, 4, 5, 6)}) == 1


def _py_winnow_fps(text):
    # Independent pure-Python winnowing reference (MOSS selection):
    # md5 of each 4-word gram, keyed md5hex || zfill(99999-pos);
    # min over each 4-key window = (hash asc, pos desc); distinct.
    import hashlib

    w = text.strip().split()
    if len(w) < 7:
        return set()
    keys = [
        hashlib.md5(" ".join(w[i : i + 4]).encode()).hexdigest()
        + str(99999 - (i + 1)).zfill(5)
        for i in range(len(w) - 3)
    ]
    return {
        min(keys[s : s + 4])[:32] for s in range(len(keys) - 3)
    }


def _winnowing_replay(spark, tmp_path, sf_small, cuts):
    """Replay the documents through the winnowing gate one file per
    micro-batch, banded at the ``doc_id`` ``cuts``, and fold the same
    bands in pure Python: per batch, probe each doc against the
    df-gated maintained index (>=3 shared fps on any corpus doc ->
    rejected, best match = max shared then min id), then fold the
    ADMITTED docs' fingerprints in. The reference shares no Spark code
    with the implementation. Returns ``(got, want, state, corpus)``."""
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        winnowing_admission_stream,
    )

    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    ).select("doc_id", "text")
    src = str(tmp_path / "win_in")
    os.makedirs(src)
    bounds = list(zip([None, *cuts], [*cuts, None]))
    for i, (lo, hi) in enumerate(bounds):
        band = docs
        if lo is not None:
            band = band.filter(docs.doc_id >= lo)
        if hi is not None:
            band = band.filter(docs.doc_id < hi)
        part = str(tmp_path / f"wpart{i}")
        band.coalesce(1).write.mode("overwrite").parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    stream = stream_parquet_dir(
        spark, src, docs.schema, max_files_per_trigger=1
    )
    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.doc_id] = (r.matched_doc, r.shared_fps, r.admitted)

    q, state = winnowing_admission_stream(
        stream, str(tmp_path / "win_ckpt"), sink
    )
    q.awaitTermination()

    # Pure-Python sequential fold over the same bands in order.
    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    batches = [
        [
            t
            for t in rows
            if (lo is None or t[0] >= lo) and (hi is None or t[0] < hi)
        ]
        for lo, hi in bounds
    ]
    corpus = {}  # doc_id -> fps set
    want = {}
    for batch in batches:
        decided = []
        for doc_id, text in batch:
            fps = _py_winnow_fps(text)
            df_count = {}
            for d, s in corpus.items():
                for h in s:
                    df_count[h] = df_count.get(h, 0) + 1
            gated = {h for h, c in df_count.items() if c <= 20}
            shared = {
                d: len(fps & s & gated)
                for d, s in corpus.items()
                if len(fps & s & gated) >= 3
            }
            if shared:
                best = max(shared.items(), key=lambda kv: (kv[1], -kv[0]))
                want[doc_id] = (best[0], best[1], False)
                decided.append((doc_id, fps, False))
            else:
                want[doc_id] = (None, None, True)
                decided.append((doc_id, fps, True))
        for doc_id, fps, admitted in decided:
            if admitted and fps:
                corpus[doc_id] = fps
    return got, want, state, corpus


def test_streaming_winnowing_admission_matches_sequential_fold(
    spark, tmp_path, sf_small
):
    # The winnowing gate replayed over single-file micro-batches must
    # equal a pure-Python sequential fold.
    got, want, state, corpus = _winnowing_replay(
        spark, tmp_path, sf_small, (150, 300)
    )
    assert got == want
    n_rej = sum(1 for v in want.values() if not v[2])
    assert n_rej >= 3, f"fixture must produce rejections, got {n_rej}"
    # the maintained index holds exactly the admitted docs' fps rows
    idx = {
        (r.doc_id, r.h) for r in state["fps"].collect()
    }
    want_idx = {
        (d, h) for d, s in corpus.items() for h in s
    }
    assert idx == want_idx


def test_winnowing_admission_index_partitions_stay_bounded(
    spark, tmp_path, sf_small
):
    # Each fold unions the admitted rows into the index; over more
    # batches than cores the index must stay at most one partition per
    # core (else every later probe runs one task per past batch), with
    # decisions and index still equal to the sequential fold.
    cores = spark.sparkContext.defaultParallelism
    n = cores + 2
    got, want, state, corpus = _winnowing_replay(
        spark, tmp_path, sf_small, [500 * i // n for i in range(1, n)]
    )
    assert state["fps"].rdd.getNumPartitions() <= cores
    assert got == want
    assert {(r.doc_id, r.h) for r in state["fps"].collect()} == {
        (d, h) for d, s in corpus.items() for h in s
    }


def test_streaming_cdc_chunk_dedup_matches_sequential_fold(
    spark, tmp_path, sf_small
):
    # Same replay contract for the CDC chunk gate: per batch, a doc's
    # qualifying (len>=16) content-defined chunks are probed against
    # the maintained chunk-hash set; dup_ratio > 0.5 rejects; admitted
    # docs' chunk hashes fold in. Pure-Python CDC reference.
    import glob
    import hashlib
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        cdc_chunk_dedup_stream,
    )

    def py_chunks(text):
        n = len(text)
        if n < 8:
            return []
        bd = [1] + [
            i
            for i in range(2, n - 6)
            if hashlib.md5(text[i - 1 : i + 7].encode()).hexdigest()[0]
            == "0"
        ]
        out = []
        for j, b in enumerate(bd):
            e = bd[j + 1] if j + 1 < len(bd) else n + 1
            chunk = text[b - 1 : b - 1 + min(e - b, 64)]
            if len(chunk) >= 16:
                out.append(hashlib.md5(chunk.encode()).hexdigest())
        return out

    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    ).select("doc_id", "text")
    src = str(tmp_path / "cdc_in")
    os.makedirs(src)
    for i, pred in enumerate(
        ("doc_id < 150", "doc_id >= 150 and doc_id < 300", "doc_id >= 300")
    ):
        part = str(tmp_path / f"cpart{i}")
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    stream = stream_parquet_dir(
        spark, src, docs.schema, max_files_per_trigger=1
    )
    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.doc_id] = (
                r.n_chunks,
                r.n_dup,
                round(r.dup_ratio, 6),
                r.admitted,
            )

    q, state = cdc_chunk_dedup_stream(
        stream, str(tmp_path / "cdc_ckpt"), sink
    )
    q.awaitTermination()

    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    batches = [
        [t for t in rows if t[0] < 150],
        [t for t in rows if 150 <= t[0] < 300],
        [t for t in rows if t[0] >= 300],
    ]
    index = set()
    want = {}
    for batch in batches:
        decided = []
        for doc_id, text in batch:
            ch = py_chunks(text)
            n_chunks = len(ch)
            n_dup = sum(1 for h in ch if h in index)
            ratio = round(n_dup / n_chunks, 6) if n_chunks else 0.0
            admitted = ratio <= 0.5
            want[doc_id] = (n_chunks, n_dup, ratio, admitted)
            decided.append((doc_id, ch, admitted))
        for doc_id, ch, admitted in decided:
            if admitted:
                index.update(ch)
    assert got == want
    n_rej = sum(1 for v in want.values() if not v[3])
    assert n_rej >= 1, f"fixture must produce rejections, got {n_rej}"


def test_winnowing_admission_restart_from_initial_fps(
    spark, tmp_path, sf_small
):
    # Restart contract for the winnowing gate: the fingerprint index
    # is the pipeline's maintained table — a restarted run passes it
    # back as initial_fps and the two runs' decisions together must
    # equal the single-run sequential fold over all batches.
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        winnowing_admission_stream,
    )

    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    ).select("doc_id", "text")
    bands = [
        ("doc_id < 150", "wr1", 0),
        ("doc_id >= 150 and doc_id < 300", "wr2", 0),
        ("doc_id >= 300", "wr2", 1),
    ]

    def stage(subdir, parts):
        src = str(tmp_path / subdir)
        os.makedirs(src, exist_ok=True)
        for pred, _, i in parts:
            part = str(tmp_path / f"{subdir}_p{i}")
            docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                part
            )
            (f,) = glob.glob(os.path.join(part, "*.parquet"))
            dst = os.path.join(src, f"b{i}.parquet")
            os.rename(f, dst)
            mt = _t.time() - 1000 + i * 10
            os.utime(dst, (mt, mt))
        return src

    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.doc_id] = (r.matched_doc, r.shared_fps, r.admitted)

    # Run 1: first band only.
    q1, s1 = winnowing_admission_stream(
        stream_parquet_dir(
            spark,
            stage("wr1", [b for b in bands if b[1] == "wr1"]),
            docs.schema,
            max_files_per_trigger=1,
        ),
        str(tmp_path / "wck1"),
        sink,
    )
    q1.awaitTermination()
    # "Persist" the maintained index between runs, then restart with
    # the remaining two bands.
    saved = [(r.doc_id, r.h) for r in s1["fps"].collect()]
    restored = spark.createDataFrame(saved, "doc_id long, h string")
    q2, s2 = winnowing_admission_stream(
        stream_parquet_dir(
            spark,
            stage("wr2", [b for b in bands if b[1] == "wr2"]),
            docs.schema,
            max_files_per_trigger=1,
        ),
        str(tmp_path / "wck2"),
        sink,
        initial_fps=restored,
    )
    q2.awaitTermination()

    # Single-run reference: pure-Python sequential fold over the same
    # three bands in order (same reference as the non-restart test).
    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    batches = [
        [t for t in rows if t[0] < 150],
        [t for t in rows if 150 <= t[0] < 300],
        [t for t in rows if t[0] >= 300],
    ]
    corpus = {}
    want = {}
    for batch in batches:
        decided = []
        for doc_id, text in batch:
            fps = _py_winnow_fps(text)
            df_count = {}
            for d, s in corpus.items():
                for h in s:
                    df_count[h] = df_count.get(h, 0) + 1
            gated = {h for h, c in df_count.items() if c <= 20}
            shared = {
                d: len(fps & s & gated)
                for d, s in corpus.items()
                if len(fps & s & gated) >= 3
            }
            if shared:
                best = max(shared.items(), key=lambda kv: (kv[1], -kv[0]))
                want[doc_id] = (best[0], best[1], False)
                decided.append((doc_id, fps, False))
            else:
                want[doc_id] = (None, None, True)
                decided.append((doc_id, fps, True))
        for doc_id, fps, admitted in decided:
            if admitted and fps:
                corpus[doc_id] = fps
    assert got == want
    assert any(not v[2] for v in want.values())

    # Runtime misuse guard (round-9 ADVICE): restarting against a
    # checkpoint that already carries committed offsets WITHOUT
    # passing the maintained index back must raise — silently
    # resuming with an empty index would re-admit previously-admitted
    # duplicates. A deliberate reset stays possible via an explicit
    # empty frame.
    import pytest as _pytest

    stream2 = stream_parquet_dir(
        spark,
        str(tmp_path / "wr2"),
        docs.schema,
        max_files_per_trigger=1,
    )
    with _pytest.raises(ValueError, match="committed offsets"):
        winnowing_admission_stream(
            stream2, str(tmp_path / "wck2"), sink
        )
    empty = restored.limit(0)
    q3, _s3 = winnowing_admission_stream(
        stream2, str(tmp_path / "wck2"), lambda df, bid: None,
        initial_fps=empty,
    )
    q3.awaitTermination()


def _py_substring_decision(text, index, T=40):
    # Hit positions vs a set of admitted gram strings; islands merged.
    hits = [
        p
        for p in range(1, len(text) - T + 2)
        if text[p - 1 : p - 1 + T] in index
    ]
    if not hits:
        return (0, 0, True)
    spans = []
    lo = prev = hits[0]
    for p in hits[1:]:
        if p == prev + 1:
            prev = p
            continue
        spans.append(prev + T - lo)
        lo = prev = p
    spans.append(prev + T - lo)
    return (len(spans), max(spans), False)


def _py_grams(text, T=40):
    return {
        text[i : i + T] for i in range(len(text) - T + 1)
    } if len(text) >= T else set()


def test_streaming_substring_contamination_matches_sequential_fold(
    spark, tmp_path, sf_small
):
    # The exact-substring gate replayed over single-file micro-batches
    # must equal a pure-Python sequential fold: per batch, each doc's
    # 40-gram hit positions vs the maintained index decide
    # (n_spans, max_span_len, admitted); admitted docs' grams fold in
    # AFTER the whole batch (decisions never depend on batch siblings).
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        substring_contamination_stream,
    )

    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    ).select("doc_id", "text")
    src = str(tmp_path / "sub_in")
    os.makedirs(src)
    bands = (
        "doc_id < 150",
        "doc_id >= 150 and doc_id < 300",
        "doc_id >= 300",
    )
    for i, pred in enumerate(bands):
        part = str(tmp_path / f"spart{i}")
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = _t.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    stream = stream_parquet_dir(
        spark, src, docs.schema, max_files_per_trigger=1
    )
    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.doc_id] = (r.n_spans, r.max_span_len, r.admitted)

    q, state = substring_contamination_stream(
        stream, str(tmp_path / "sub_ckpt"), sink
    )
    q.awaitTermination()

    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    batches = [
        [t for t in rows if t[0] < 150],
        [t for t in rows if 150 <= t[0] < 300],
        [t for t in rows if t[0] >= 300],
    ]
    index: set = set()
    want = {}
    for batch in batches:
        admitted_grams = set()
        for doc_id, text in batch:
            decision = _py_substring_decision(text, index)
            want[doc_id] = decision
            if decision[2]:
                admitted_grams |= _py_grams(text)
        index |= admitted_grams
    assert got == want
    n_rej = sum(1 for v in want.values() if not v[2])
    assert n_rej >= 1, "fixture must produce verbatim-overlap rejections"
    # maintained index = exactly the admitted docs' distinct classes:
    # compare cardinality against the string-gram reference (classes
    # are 128-bit hashes of the same gram set).
    assert state["index"].count() == len(index)


def test_substring_contamination_restart_from_initial_index(
    spark, tmp_path, sf_small
):
    # Restart contract for the substring gate: the class index is the
    # maintained table — run 1 (band 0), persist state["index"], run 2
    # (bands 1-2) with initial_index; the combined decisions must
    # equal the single-run sequential fold. The shared runtime guard
    # must also refuse an offsets-bearing checkpoint without an index.
    import glob
    import os
    import time as _t

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        substring_contamination_stream,
    )

    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    ).select("doc_id", "text")

    def stage(subdir, parts):
        src = str(tmp_path / subdir)
        os.makedirs(src, exist_ok=True)
        for pred, i in parts:
            part = str(tmp_path / f"{subdir}_p{i}")
            docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                part
            )
            (f,) = glob.glob(os.path.join(part, "*.parquet"))
            dst = os.path.join(src, f"b{i}.parquet")
            os.rename(f, dst)
            mt = _t.time() - 1000 + i * 10
            os.utime(dst, (mt, mt))
        return src

    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.doc_id] = (r.n_spans, r.max_span_len, r.admitted)

    q1, s1 = substring_contamination_stream(
        stream_parquet_dir(
            spark,
            stage("sr1", [("doc_id < 150", 0)]),
            docs.schema,
            max_files_per_trigger=1,
        ),
        str(tmp_path / "sck1"),
        sink,
    )
    q1.awaitTermination()
    saved = [(r.h1, r.h2) for r in s1["index"].collect()]
    restored = spark.createDataFrame(saved, "h1 long, h2 long")
    src2 = stage(
        "sr2",
        [("doc_id >= 150 and doc_id < 300", 0), ("doc_id >= 300", 1)],
    )
    q2, _s2 = substring_contamination_stream(
        stream_parquet_dir(
            spark, src2, docs.schema, max_files_per_trigger=1
        ),
        str(tmp_path / "sck2"),
        sink,
        initial_index=restored,
    )
    q2.awaitTermination()

    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    batches = [
        [t for t in rows if t[0] < 150],
        [t for t in rows if 150 <= t[0] < 300],
        [t for t in rows if t[0] >= 300],
    ]
    index: set = set()
    want = {}
    for batch in batches:
        admitted_grams = set()
        for doc_id, text in batch:
            decision = _py_substring_decision(text, index)
            want[doc_id] = decision
            if decision[2]:
                admitted_grams |= _py_grams(text)
        index |= admitted_grams
    assert got == want
    assert any(not v[2] for v in want.values())

    import pytest as _pytest

    stream2 = stream_parquet_dir(
        spark, src2, docs.schema, max_files_per_trigger=1
    )
    with _pytest.raises(ValueError, match="committed offsets"):
        substring_contamination_stream(
            stream2, str(tmp_path / "sck2"), sink
        )


def _stage_file(spark, df, tmp_path, src_name, file_name, order):
    """Write df as a single parquet file into the stream source dir
    with a monotonically increasing mtime."""
    import glob
    import os
    import time as _t

    src = str(tmp_path / src_name)
    os.makedirs(src, exist_ok=True)
    part = str(tmp_path / f"{src_name}_{file_name}_part")
    df.coalesce(1).write.mode("overwrite").parquet(part)
    (f,) = glob.glob(os.path.join(part, "*.parquet"))
    dst = os.path.join(src, f"{file_name}.parquet")
    os.rename(f, dst)
    mt = _t.time() - 1000 + order * 10
    os.utime(dst, (mt, mt))
    return src


_GATE_TEXT = (
    "document {} talks about streaming admission gates that keep a "
    "maintained index outside the checkpoint and must refuse a blind resume"
)
_GATE_DOCS = (
    "doc_id long, text string",
    [[(1, _GATE_TEXT.format(1))], [(2, _GATE_TEXT.format(2))]],
)


@pytest.mark.parametrize(
    "gate, initial, key, data",
    [
        ("winnowing_admission_stream", "initial_fps", "fps", _GATE_DOCS),
        ("cdc_chunk_dedup_stream", "initial_chunks", "chunks", _GATE_DOCS),
        ("substring_contamination_stream", "initial_index", "index", _GATE_DOCS),
        (
            "component_maintenance_stream", "initial_labels", "labels",
            ("doc_a long, doc_b long", [[(1, 2), (3, 4)], [(2, 3)]]),
        ),
    ],
    ids=["winnowing", "cdc", "substring", "components"],
)
def test_indexed_gate_refuses_resume_without_its_index(
    spark, tmp_path, gate, initial, key, data
):
    # Every gate whose index lives outside the checkpoint refuses to
    # resume a checkpoint with committed offsets when no index is
    # passed back (it would silently probe an empty index); an
    # explicit empty frame is a deliberate reset that starts and
    # resumes from the stored offsets (only the new file is read).
    from pyspark.sql.types import _parse_datatype_string

    from msk_flink_streaming_cdk_spark.streaming import ingest

    start = getattr(ingest, gate)
    schema, files = data
    st = _parse_datatype_string(schema)
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    def land(i):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(files[i], st).coalesce(1).write.parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        os.rename(f, os.path.join(src, f"b{i}.parquet"))

    seen = []

    def run(index):
        stream = stream_parquet_dir(spark, src, st, max_files_per_trigger=1)
        return start(
            stream, ckpt, lambda df, bid: seen.append(bid), **{initial: index}
        )

    land(0)
    q, state = run(None)
    assert q.awaitTermination(120)
    assert q.exception() is None and seen == [0]
    land(1)
    with pytest.raises(ValueError, match="committed offsets"):
        run(None)
    q, _ = run(state[key].limit(0))
    assert q.awaitTermination(120)
    assert q.exception() is None and seen == [0, 1]


def test_component_labels_roundtrip_table_across_sessions(
    spark, tmp_path
):
    """VERDICT r10 #6 — the PRODUCTION restart posture, end to end:
    the maintained labeling is written to a REAL parquet table, the
    original session is gone (a fresh ``newSession()`` with its own
    session state stands in for the new driver process), the restart
    reads the table back, passes it as ``initial_labels``, and resumes
    against the SAME checkpoint dir — so the file source's committed
    offsets skip the already-processed files and only the new edge
    file is folded. Final labeling must equal the uninterrupted
    single-run CC over all edges."""
    import os

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
    )
    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        component_maintenance_stream,
    )
    from pyspark.sql.types import _parse_datatype_string

    schema = "doc_a long, doc_b long"
    st = _parse_datatype_string(schema)
    run1 = [(1, 2), (3, 4), (7, 8)]
    run2 = [(2, 3), (5, 6), (4, 5)]
    ck = str(tmp_path / "ck_shared")
    tbl = str(tmp_path / "labels_table")

    # --- session 1: consume the first file, persist the labeling ---
    src = _stage_file(
        spark, spark.createDataFrame(run1, schema), tmp_path,
        "cc_src", "b0", 0,
    )
    q1, s1 = component_maintenance_stream(
        stream_parquet_dir(spark, src, st, max_files_per_trigger=1), ck
    )
    q1.awaitTermination()
    s1["labels"].write.mode("overwrite").parquet(tbl)

    # --- "new process": fresh session state; the table is the only
    # carried state besides the checkpoint's source offsets ---
    spark2 = spark.newSession()
    restored = spark2.read.parquet(tbl)
    _stage_file(
        spark, spark.createDataFrame(run2, schema), tmp_path,
        "cc_src", "b1", 1,
    )
    batches = []
    q2, s2 = component_maintenance_stream(
        stream_parquet_dir(spark2, src, st, max_files_per_trigger=1),
        ck,
        on_update=lambda df, bid: batches.append(bid),
        initial_labels=restored,
    )
    q2.awaitTermination()

    # only the NEW file was processed (offsets resumed, no reprocess)
    assert len(batches) == 1
    want = {
        (r.node, r.label)
        for r in connected_components(
            spark.createDataFrame(run1 + run2, schema)
        ).collect()
    }
    got = {(r.node, r.label) for r in s2["labels"].collect()}
    assert got == want
    labels = dict(got)
    assert len({labels[n] for n in (1, 2, 3, 4, 5, 6)}) == 1
    assert labels[7] == labels[8] != labels[1]
    assert os.path.isdir(os.path.join(ck, "offsets"))


def test_substring_index_roundtrip_table_across_sessions(
    spark, tmp_path, sf_small
):
    """Same production restart posture for the exact-substring gate:
    the 128-bit gram-class index goes to a parquet table, a fresh
    session seeds ``initial_index`` from the table and resumes on the
    SAME checkpoint; combined decisions equal the single-run
    sequential fold."""
    import os

    from msk_flink_streaming_cdk_spark.sources.files import (
        stream_parquet_dir,
    )
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        substring_contamination_stream,
    )

    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    ).select("doc_id", "text")
    ck = str(tmp_path / "sub_ck_shared")
    tbl = str(tmp_path / "gram_index_table")
    got = {}

    def sink(df, bid):
        for r in df.collect():
            got[r.doc_id] = (r.n_spans, r.max_span_len, r.admitted)

    src = _stage_file(
        spark, docs.filter("doc_id < 150"), tmp_path, "sub_src", "b0", 0
    )
    q1, s1 = substring_contamination_stream(
        stream_parquet_dir(spark, src, docs.schema, max_files_per_trigger=1),
        ck,
        sink,
    )
    q1.awaitTermination()
    s1["index"].write.mode("overwrite").parquet(tbl)

    spark2 = spark.newSession()
    _stage_file(
        spark,
        docs.filter("doc_id >= 150 and doc_id < 300"),
        tmp_path, "sub_src", "b1", 1,
    )
    _stage_file(
        spark, docs.filter("doc_id >= 300"), tmp_path, "sub_src", "b2", 2
    )
    q2, _s2 = substring_contamination_stream(
        stream_parquet_dir(
            spark2, src, docs.schema, max_files_per_trigger=1
        ),
        ck,
        sink,
        initial_index=spark2.read.parquet(tbl),
    )
    q2.awaitTermination()

    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    bands = [
        [t for t in rows if t[0] < 150],
        [t for t in rows if 150 <= t[0] < 300],
        [t for t in rows if t[0] >= 300],
    ]
    index: set = set()
    want = {}
    for batch in bands:
        admitted_grams = set()
        for doc_id, text in batch:
            decision = _py_substring_decision(text, index)
            want[doc_id] = decision
            if decision[2]:
                admitted_grams |= _py_grams(text)
        index |= admitted_grams
    assert got == want
    assert any(not v[2] for v in want.values())


def test_knn_forget_stream_equals_batch_compaction(spark, tmp_path, sf_small):
    """Streaming forget propagation (VERDICT r13 #8): folding a
    deletion stream into a maintained init-tier k-NN graph one
    micro-batch at a time ends at the same graph as ONE batch
    compaction over the union of deletions — which itself equals a
    rebuild on the survivors (the r13 exactness pin). Closes the
    maintained-index lifecycle in streaming: build -> merge on
    ingest -> compact on forget."""
    from pyspark.sql import functions as F

    from msk_flink_streaming_cdk_spark.operators.similarity import (
        nndescent_forget_compact,
        nndescent_knn_graph,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table
    from msk_flink_streaming_cdk_spark.streaming.ingest import (
        knn_forget_stream,
    )

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    graph = nndescent_knn_graph(emb, k=5, n_rounds=0, n_bits=3)

    batches = [
        [(int(r.vec_id),) for r in emb.filter(
            F.col("vec_id") % 14 == 0).select("vec_id").collect()],
        [(int(r.vec_id),) for r in emb.filter(
            (F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 14 != 0)
        ).select("vec_id").collect()],
    ]
    assert batches[0] and batches[1]
    src = str(tmp_path / "forget_src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = str(tmp_path / f"fpart{i}")
        spark.createDataFrame(rows, "vec_id long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        (f,) = glob.glob(os.path.join(part, "*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(f, dst)
        mtime = time.time() - 1000 + i * 10
        os.utime(dst, (mtime, mtime))

    from pyspark.sql.types import _parse_datatype_string

    stream = stream_parquet_dir(
        spark, src, _parse_datatype_string("vec_id long"),
        max_files_per_trigger=1,
    )
    seen = []
    q, state = knn_forget_stream(
        stream,
        graph,
        emb,
        str(tmp_path / "knn_ckpt"),
        on_update=lambda df, bid: seen.append(bid),
        k=5,
        n_bits=3,
    )
    q.awaitTermination()
    assert seen == [0, 1]

    all_forget = spark.createDataFrame(
        [t for rows in batches for t in rows], "vec_id long"
    )
    one_shot = nndescent_forget_compact(
        graph, emb, all_forget, k=5, n_bits=3
    )
    rebuilt = nndescent_knn_graph(
        emb.join(all_forget, "vec_id", "left_anti"),
        k=5, n_rounds=0, n_bits=3,
    )
    got = sorted(tuple(r) for r in state["graph"].collect())
    assert got == sorted(tuple(r) for r in one_shot.collect())
    assert got == sorted(tuple(r) for r in rebuilt.collect())
    # the maintained corpus shrank to the survivors
    fids = {t[0] for rows in batches for t in rows}
    left = {r.vec_id for r in state["corpus"].collect()}
    assert left == {
        r.vec_id for r in emb.collect()
    } - fids
    # no ghost edges
    assert not any(a in fids or b in fids for a, b, *_ in got)
