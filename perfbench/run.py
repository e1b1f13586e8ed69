"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Builds the session
with ``session.get_spark`` (sized by SPARK_GRAFT_CPUS = the CPUs this
process may use), runs one workload on inputs generated from the seed,
checks the outputs and prints one JSON object as the last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from a separately traced run. A line before it, starting with
``# details``, carries sample counts, bases and failing rows.

Scratch files go under ``.perfbench_work/`` in the checkout and are
removed at exit. On every path out, the run first stops the engine and
waits until the JVM and its Python workers have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("sensor_backlog", "doc_admission")


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "msk_flink_streaming_cdk_spark", "session.py")):
        print(f"error: {ROOT} is not a checkout of the program (no msk_flink_streaming_cdk_spark)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.prepare_env(ROOT, work)
    try:
        return _run(args, work)
    finally:
        # Every path out waits for the engine's processes to end.
        harness.stop_engine()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def _run(args: argparse.Namespace, work: str) -> int:
    import contextlib
    import traceback

    import harness
    from msk_flink_streaming_cdk_spark.session import get_spark

    tracer = harness.Tracer(enabled=bool(args.trace))
    # Peak memory is a per-layer figure: sample it in traced runs only,
    # so the sampler's own CPU stays out of the measured runs.
    with harness.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        t0 = time.time()
        with tracer.span("session.get_spark", "session"):
            spark = get_spark()
        t1 = time.time()
        with tracer.span("session.first_job", "session"):
            spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.time()
        setup_s = harness.process_age_s()
        # The harness's own modules load after set-up is timed.
        import workloads

        spark.sparkContext.setLogLevel("ERROR")
        conf_before = harness.session_conf(spark)
        gc0 = harness.gc_ms(spark)
        ctx = workloads.Context(spark, work, args.seed, args.seconds, tracer)
        t3 = time.time()
        try:
            result = getattr(workloads, args.workload)(ctx)
        except Exception:
            # A workload that breaks is a failed run, reported as one.
            result = workloads.Result(
                throughput_per_s=0.0,
                batch_p50_s=0.0,
                cpu_ms_per_item=0.0,
                attempted=0,
                failed=1,
                notes=[traceback.format_exc()[-2000:]],
            )
        t4 = time.time()
        gc1 = harness.gc_ms(spark)
        conf_after = harness.session_conf(spark)
        spark.stop()
    baseline = workloads.BASELINES.get(args.workload)
    baseline_eps = baseline(ctx) if args.trace and baseline else 0.0
    changed = sorted(k for k in set(conf_before) | set(conf_after) if conf_before.get(k) != conf_after.get(k))
    if changed:
        result.failed += 1
        result.notes.append(f"session conf changed during the workload: {changed}")
    result.attempted += 1

    if args.trace:
        values = {
            "session.start_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "jvm.gc_ms": gc1 - gc0,
            "error_rate": result.failed / result.attempted,
            "trace.throughput_per_s": result.throughput_per_s,
            "trace.batch_p50_s": result.batch_p50_s,
            "baseline.local1_events_per_s": baseline_eps,
            "process.peak_rss_mb": rss.peak / 2**20,
            **result.layers,
        }
        with tracer.bookkeeping():
            for layer, ms in tracer.self_ms_by_layer().items():
                values[f"trace.self_ms.{layer}"] = ms
        values["trace.overhead_pct"] = 100.0 * tracer.cost / (t4 - t3)
        metrics = {k: _metric(values.get(k, 0.0), unit) for k, unit in workloads.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "throughput_per_s": _metric(result.throughput_per_s, "1/s"),
            "cpu_ms_per_item": _metric(result.cpu_ms_per_item, "ms"),
        }
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "error_rate_base": result.attempted,
        "batch_p50_s": result.batch_p50_s,
        "setup_parts_s": {"to_get_spark": setup_s - (t2 - t0), "get_spark": t1 - t0, "first_job": t2 - t1},
        "failing": result.notes,
        **result.details,
    }
    print("# details " + json.dumps(details, default=str))
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": int(result.attempted),
                "failed": int(result.failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
