"""The benchmark workloads. Each takes a ``Context`` and returns a
``Result``: the end-to-end numbers, the per-layer numbers, the checks
made and failed, and details for the report.

A workload drives the program only through its public functions and
the inputs ``gen`` makes from the seed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import gen
import checks
import harness


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: int
    tracer: harness.Tracer


@dataclass
class Result:
    throughput_per_s: float
    batch_p50_s: float
    cpu_ms_per_item: float
    attempted: int
    failed: int
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    details: dict = field(default_factory=dict)


def _trace_batches(tracer: harness.Tracer, query_name: str, records: list[dict], parent: int) -> dict[int, int]:
    """Rebuild per-micro-batch spans from engine progress under
    ``parent``: the trigger is the batch span, its phases (laid end to
    end in execution order) its children, and the state-store times
    ride along as counts. Returns each batch's addBatch span index."""
    phases = [
        ("latestOffset", "sources"),
        ("walCommit", "checkpoint"),
        ("getBatch", "sources"),
        ("queryPlanning", "pipelines"),
        ("addBatch", "sinks"),
        ("commitOffsets", "checkpoint"),
    ]
    add_batch: dict[int, int] = {}
    for r in records:
        d = r["durations"]
        batch = tracer.add(
            f"{query_name}.batch{r['batch']}",
            "pipelines",
            r["start"],
            r["commit"],
            parent,
            rows=r["rows"],
            state_update_ms=r["state_updates_ms"],
            state_commit_ms=r["state_commit_ms"],
        )
        cursor = r["start"]
        for key, layer in phases:
            ms = d.get(key, 0)
            idx = tracer.add(f"{query_name}.{key}", layer, cursor, cursor + ms / 1000.0, batch)
            if key == "addBatch":
                add_batch[r["batch"]] = idx
            cursor += ms / 1000.0
    return add_batch


def _batch_layers(records: list[dict]) -> dict:
    """Per-layer figures from the progress of every batch that read
    input: medians for times, totals or maxima for counts."""
    data = [r for r in records if r["rows"] > 0] or records
    med = lambda key: harness.median([r["durations"].get(key, 0) for r in data])  # noqa: E731
    return {
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.get_batch_ms": med("getBatch"),
        "sources.rows_per_batch": harness.median([r["rows"] for r in data]),
        "pipelines.planning_ms": med("queryPlanning"),
        "pipelines.add_batch_ms": med("addBatch"),
        "pipelines.trigger_ms": med("triggerExecution"),
        "pipelines.batches": len(records),
        "checkpoint.wal_ms": med("walCommit"),
        "checkpoint.commit_ms": med("commitOffsets"),
        "state.update_ms": harness.median([r["state_updates_ms"] for r in data]),
        "state.remove_ms": harness.median([r["state_removals_ms"] for r in data]),
        "state.commit_ms": harness.median([r["state_commit_ms"] for r in data]),
        "state.rows_total": max(r["state_rows_total"] for r in records),
        "state.rows_updated": sum(r["state_rows_updated"] for r in records),
        "state.memory_bytes": max(r["state_memory_bytes"] for r in records),
        "state.instances": max(r["state_instances"] for r in records),
        "state.dropped_late": sum(r["state_dropped_late"] for r in records),
    }


def _stream_jobs(spark, queries) -> tuple[float, float]:
    batches = jobs = tasks = 0
    for q in queries:
        j, t = harness.jobs_and_tasks(spark, str(q.runId))
        jobs += j
        tasks += t
        batches += len(q.recentProgress)
    return jobs / max(1, batches), tasks / max(1, batches)


def _final_watermark_ms(query) -> int | None:
    """The watermark the query last reported, or None if it reported
    none (no progress, or no event-time section)."""
    wm = ((query.lastProgress or {}).get("eventTime") or {}).get("watermark")
    return int(harness.epoch(wm) * 1000) if wm else None


# sensor_backlog: the reference job drains a pre-written backlog.
# Uniform keys like the producer; 10k sensors in 100k-event files as in
# the reference-job probe of 1M events; event time advances at 2k
# events/s, the live feed rate of the same probe.
BACKLOG = {
    "events_per_file": 100_000,
    "files_per_10_s": 3,
    "sensors": 10_000,
    "event_rate_per_s": 2_000.0,
    "jitter_bound_s": 4.5,
}


def _drain(ctx: Context, name: str, seed: int, n_files: int, layer: str) -> dict:
    """Write a backlog of ``n_files`` files under ``name`` and drain it
    with ``run_reference_job`` (file mode, ``availableNow``) into its
    own sinks and checkpoints; time the call until both queries end."""
    from msk_flink_streaming_cdk_spark.config import ReferenceJobConfig
    from msk_flink_streaming_cdk_spark.jobs import run_reference_job

    p = BACKLOG
    base = os.path.join(ctx.work, name)
    run = {
        "src": os.path.join(base, "backlog"),
        "q1_dir": os.path.join(base, "alerts"),
        "q2_dir": os.path.join(base, "averages"),
    }
    run["shape"] = gen.sensor_backlog(
        run["src"],
        seed,
        n_files=n_files,
        events_per_file=p["events_per_file"],
        n_sensors=p["sensors"],
        rate_per_s=p["event_rate_per_s"],
        jitter_s=p["jitter_bound_s"],
    )
    cfg = ReferenceJobConfig(
        input_topic="readings", bootstrap_servers="", output_topic=run["q1_dir"], output_path=run["q2_dir"]
    )
    cpu0 = harness.tree_cpu_s()
    t0 = time.time()
    with ctx.tracer.span("jobs.run_reference_job", layer) as span:
        queries = run_reference_job(
            ctx.spark, cfg, mode="file", source_dir=run["src"], checkpoint_root=os.path.join(base, "ckpt")
        )
        for q in queries:
            q.awaitTermination()
    run.update(wall=time.time() - t0, cpu=harness.tree_cpu_s() - cpu0, queries=queries, span=span)
    return run


def sensor_backlog(ctx: Context) -> Result:
    p = BACKLOG
    tr = ctx.tracer
    # An untimed one-file warm-up drain (its own backlog, sinks and
    # checkpoints) runs both pipelines once, so the measured drain sees
    # a session in the state a long catch-up job is in after its first
    # batch.
    _drain(ctx, "warmup", ctx.seed + 7919, 1, "warmup")
    n_files = max(2, round(ctx.seconds * p["files_per_10_s"] / 10))
    run = _drain(ctx, "measured", ctx.seed, n_files, "pipelines")
    queries, wall, cpu, shape = run["queries"], run["wall"], run["cpu"], run["shape"]
    src, q1_dir, q2_dir, job_span = run["src"], run["q1_dir"], run["q2_dir"], run["span"]
    failed_queries = [str(q.exception()) for q in queries if q.exception() is not None]
    recs = [harness.progress_records(q) for q in queries]
    if tr.enabled:
        with tr.bookkeeping():
            for name, r in zip(("q1", "q2"), recs):
                _trace_batches(tr, name, r, job_span)
    watermarks = [_final_watermark_ms(q) for q in queries]
    consumed = [sum(r["rows"] for r in rs) for rs in recs]
    with tr.span("check.reference_outputs", "check"):
        attempted, failed, notes, detail = checks.reference_outputs(
            os.path.join(src, "*.parquet"), q1_dir, q2_dir, watermarks, consumed
        )
    attempted += sum(len(r) for r in recs)
    failed += len(failed_queries)
    notes += failed_queries
    all_recs = recs[0] + recs[1]
    layers = _batch_layers(all_recs)
    if tr.enabled:
        with tr.bookkeeping():
            layers["sinks.jobs_per_batch"], layers["sinks.tasks_per_batch"] = _stream_jobs(ctx.spark, queries)
    layers.update(
        {
            "sinks.files_written": detail["q2_files"],
            "sinks.bytes_written": detail["q2_bytes"],
            "sinks.files_per_partition_dir": detail["q2_files"] / max(1, detail["q2_partition_dirs"]),
            "sinks.markers_written": detail["markers_written"],
            "sinks.alerts_published": detail["q1_written"],
        }
    )
    batch_s = [r["durations"].get("triggerExecution", 0) / 1000.0 for r in all_recs if r["rows"] > 0]
    return Result(
        throughput_per_s=shape["events"] / wall,
        batch_p50_s=harness.median(batch_s),
        cpu_ms_per_item=1000.0 * cpu / shape["events"],
        attempted=attempted,
        failed=failed,
        layers=layers,
        notes=notes,
        details={"input": shape, "drain_s": wall, "batch_s": batch_s, **detail},
    )


# doc_admission: a document stream through the winnowing gate.
ADMISSION = {
    "docs_per_file": 500,
    "files_per_10_s": 6,
    "dup_share": 0.2,
    "vocabulary": 4000,
    "warmup_files": 3,
    "warmup_docs_per_file": 500,
}
SCHEMA_DOCS = "doc_id long, text string"


def _admit(ctx: Context, docs: list, name: str, docs_per_file: int, layer: str) -> dict:
    """Land ``docs`` as a file stream and run it through
    ``winnowing_admission_stream`` until drained; collect every
    decision in ``on_batch`` and stamp when each call enters and
    returns."""
    from msk_flink_streaming_cdk_spark.sources.files import stream_parquet_dir
    from msk_flink_streaming_cdk_spark.streaming.ingest import winnowing_admission_stream

    src = os.path.join(ctx.work, name)
    gen.document_stream(src, docs, docs_per_file)
    run = {"decisions": {}, "entered": {}, "returned": {}}

    def on_batch(df, batch_id: int) -> None:
        run["entered"][batch_id] = time.time()
        for r in df.collect():
            run["decisions"][r.doc_id] = (r.matched_doc, r.shared_fps, r.admitted)
        run["returned"][batch_id] = time.time()

    schema = ctx.spark.createDataFrame([], SCHEMA_DOCS).schema
    cpu0 = harness.tree_cpu_s()
    t0 = time.time()
    with ctx.tracer.span("ingest.winnowing_admission_stream", layer) as span:
        stream = stream_parquet_dir(ctx.spark, src, schema, max_files_per_trigger=1)
        query, state = winnowing_admission_stream(stream, os.path.join(ctx.work, name + "-ckpt"), on_batch)
        query.awaitTermination()
    run.update(wall=time.time() - t0, cpu=harness.tree_cpu_s() - cpu0, query=query, state=state, span=span)
    return run


def doc_admission(ctx: Context) -> Result:
    p = ADMISSION
    tr = ctx.tracer
    # An untimed warm-up stream (its own documents, checkpoint and
    # index) runs the gate's code paths once, both the empty-index
    # first batch and the probing batches, so the measured stream sees
    # a session in the state a long-running admission job is in.
    warm = gen.documents(ctx.seed + 7919, p["warmup_files"] * p["warmup_docs_per_file"], p["dup_share"], p["vocabulary"])
    _admit(ctx, warm, "warmup", p["warmup_docs_per_file"], "warmup")
    n_docs = max(2, round(ctx.seconds * p["files_per_10_s"] / 10)) * p["docs_per_file"]
    docs = gen.documents(ctx.seed, n_docs, p["dup_share"], vocab_size=p["vocabulary"])
    run = _admit(ctx, docs, "docs", p["docs_per_file"], "ingest")
    query, decisions = run["query"], run["decisions"]
    entered, returned = run["entered"], run["returned"]
    recs = harness.progress_records(query)
    if tr.enabled:
        with tr.bookkeeping():
            add_batch = _trace_batches(tr, "gate", recs, run["span"])
            for b, idx in add_batch.items():
                if b in entered:
                    tr.add("ingest.on_batch", "ingest", entered[b], returned[b], idx)
    notes = [str(query.exception())] if query.exception() is not None else []
    index_rows = {(r.doc_id, r.h) for r in run["state"]["fps"].select("doc_id", "h").collect()}
    batches = [docs[i : i + p["docs_per_file"]] for i in range(0, n_docs, p["docs_per_file"])]
    with tr.span("check.admission", "check"):
        attempted, failed, more = checks.admission(batches, decisions, index_rows)
    attempted += 1
    failed += len(notes)
    notes += more
    data = [r for r in recs if r["rows"] > 0]
    by_id = {r["batch"]: r for r in data}
    decide = [(entered[b] - by_id[b]["start"]) * 1000 for b in by_id if b in entered]
    fold = [(by_id[b]["commit"] - returned[b]) * 1000 for b in by_id if b in returned]
    batch_ms = [r["durations"].get("triggerExecution", 0) for r in data]
    q = max(1, len(batch_ms) // 4)
    layers = _batch_layers(recs)
    layers.update(
        {
            "ingest.decide_ms": harness.median(decide),
            "ingest.fold_ms": harness.median(fold),
            "ingest.index_rows": len(index_rows),
            "ingest.batch_ms_growth": sum(batch_ms[-q:]) / max(1, sum(batch_ms[:q])),
            "ingest.reject_share": sum(1 for d in decisions.values() if not d[2]) / max(1, len(decisions)),
        }
    )
    details = {
        "input": {"documents": n_docs, "files": len(batches), **p},
        "drain_s": run["wall"],
        "batch_ms": batch_ms,
    }
    if tr.enabled:
        reg = registry_suite(ctx)
        layers.update(reg["layers"])
        attempted += reg["attempted"]
        failed += reg["failed"]
        notes += reg["notes"]
        details["registry"] = reg["details"]
    return Result(
        throughput_per_s=len(decisions) / run["wall"],
        batch_p50_s=harness.median(batch_ms) / 1000.0,
        cpu_ms_per_item=1000.0 * run["cpu"] / max(1, len(decisions)),
        attempted=attempted,
        failed=failed,
        layers=layers,
        notes=notes,
        details=details,
    )


# The registry layer: oracle-backed registered queries over a seeded
# fixture, one or two heavy queries per query module.
REGISTRY = {
    "scale": 0.02,
    "queries": (
        "q3_shipping_priority",
        "q18_large_volume_orders",
        "similarity_cosine_topk",
        "text_bm25_topk",
    ),
}


def registry_suite(ctx: Context) -> dict:
    """Run the registry queries on a generated fixture: an untimed
    warm-up round, then timed rounds (build plus collect of the full
    result) until the run's seconds are used, at least two. The
    warm-up round's rows are compared with each query's DuckDB
    oracle."""
    from msk_flink_streaming_cdk_spark.registry import ORACLES, QUERIES

    p = REGISTRY
    fixture = os.path.join(ctx.work, "fixture")
    shape = gen.registry_fixture(fixture, ctx.seed, p["scale"])
    tr = ctx.tracer
    tracker = ctx.spark.sparkContext.statusTracker()
    per_query: dict[str, list[float]] = {q: [] for q in p["queries"]}
    plan_s: list[float] = []
    jobs: list[int] = []
    first: dict[str, tuple[list, list]] = {}
    failing: set[str] = set()
    notes: list[str] = []
    suites: list[float] = []
    deadline = None
    while len(suites) < 3 or time.time() < deadline:
        if len(suites) == 1:
            deadline = time.time() + ctx.seconds
        suite = 0.0
        for name in p["queries"]:
            if name in failing:
                continue
            group = f"perfbench-{name}-{len(suites)}"
            ctx.spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            try:
                with tr.span(f"registry.{name}", "registry"):
                    with tr.span("registry.build", "registry"):
                        df = QUERIES[name](ctx.spark, fixture)
                    t1 = time.time()
                    with tr.span("registry.materialise", "operators"):
                        rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # a failing query is a counted failure
                failing.add(name)
                notes.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            t2 = time.time()
            first.setdefault(name, (df.columns, rows))
            per_query[name].append(t2 - t0)
            if suites:
                plan_s.append(t1 - t0)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            suite += t2 - t0
        suites.append(suite)
    attempted, failed = len(failing), len(failing)
    with tr.span("check.registry", "check"):
        for name, (cols, rows) in first.items():
            a, f, n = checks.oracle(name, cols, rows, ORACLES[name], fixture)
            attempted += a
            failed += f
            notes += n
    layers = {f"registry.{q}_s": harness.median(v[1:]) for q, v in per_query.items() if v[1:]}
    layers.update(
        {
            "registry.plan_s": harness.median(plan_s),
            "registry.jobs_per_query": sum(jobs) / max(1, len(jobs)),
            "registry.suite_s": harness.median(suites[1:]),
            "registry.warmup_round_s": suites[0],
        }
    )
    return {
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "details": {"input": {**shape, "scale": p["scale"]}, "suites_s": suites},
    }


def sensor_backlog_baseline(ctx: Context) -> float:
    """Single-core baseline: the same drain of the same backlog on a
    ``local[1]`` session from ``get_spark(cpus=1)``; events per second.
    Runs after the measured session has stopped; not gated."""
    from msk_flink_streaming_cdk_spark.config import ReferenceJobConfig
    from msk_flink_streaming_cdk_spark.jobs import run_reference_job
    from msk_flink_streaming_cdk_spark.session import get_spark

    src = os.path.join(ctx.work, "measured", "backlog")
    out = os.path.join(ctx.work, "baseline")
    cfg = ReferenceJobConfig("readings", "", os.path.join(out, "alerts"), os.path.join(out, "averages"))
    spark = get_spark(cpus=1)
    try:
        events = spark.read.parquet(src).count()
        t0 = time.time()
        queries = run_reference_job(spark, cfg, mode="file", source_dir=src, checkpoint_root=os.path.join(out, "ckpt"))
        for q in queries:
            q.awaitTermination()
        return events / (time.time() - t0)
    finally:
        spark.stop()


# Runs a traced run makes after its measured session has stopped.
BASELINES = {"sensor_backlog": sensor_backlog_baseline}

# Every per-layer metric with its unit. A traced run reports all of
# them; a layer the workload does not exercise reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "jvm.gc_ms": "ms",
    "error_rate": "ratio",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_batch": "count",
    "pipelines.planning_ms": "ms",
    "pipelines.add_batch_ms": "ms",
    "pipelines.trigger_ms": "ms",
    "pipelines.batches": "count",
    "state.update_ms": "ms",
    "state.remove_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.instances": "count",
    "state.dropped_late": "count",
    "checkpoint.wal_ms": "ms",
    "checkpoint.commit_ms": "ms",
    "sinks.jobs_per_batch": "count",
    "sinks.tasks_per_batch": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_per_partition_dir": "count",
    "sinks.markers_written": "count",
    "sinks.alerts_published": "count",
    "ingest.decide_ms": "ms",
    "ingest.fold_ms": "ms",
    "ingest.index_rows": "count",
    "ingest.batch_ms_growth": "ratio",
    "ingest.reject_share": "ratio",
    **{f"registry.{q}_s": "s" for q in REGISTRY["queries"]},
    "registry.plan_s": "s",
    "registry.jobs_per_query": "count",
    "registry.suite_s": "s",
    "registry.warmup_round_s": "s",
    "process.peak_rss_mb": "MB",
    **{
        f"trace.self_ms.{layer}": "ms"
        for layer in ("session", "sources", "pipelines", "checkpoint", "sinks", "ingest", "registry", "operators")
    },
    "trace.throughput_per_s": "1/s",
    "trace.batch_p50_s": "s",
    "trace.overhead_pct": "%",
    "baseline.local1_events_per_s": "1/s",
}
