"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Emits:
- the FULL record (all per-query secs, streaming rate, vs_prev) as a
  JSON line on stdout AND to BENCH_FULL.json;
- then a COMPACT final JSON line ({"metric", "value", "unit",
  "queries": slowest-that-fit, ...}) sized to survive the driver's
  2000-char stdout tail, which is where the driver parses it from.

Each query is fully materialized through the noop sink (measures the
whole plan, excludes result transfer). The set covers the ENTIRE
registry (round 11): the curated HEADLINE order first (stable
round-over-round vs_prev), then every remaining registered key —
a query has no regression signal until it has a first timing row.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from msk_flink_streaming_cdk_spark.registry import QUERIES
from msk_flink_streaming_cdk_spark.session import get_spark

HEADLINE = [
    "q1_alerts_daily",
    "q2_windowed_avg_hourly",
    "agg_pricing_summary",
    "rollup_status_priority",
    "join_orders_per_segment",
    "q3_shipping_priority",
    "window_top3_orders_per_customer",
    "window_running_total",
    "sliding_window_event_counts",
    "session_window_user_sessions",
    "json_extract_props",
    "dedup_exact_text",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "similarity_cosine_topk",
    "similarity_lsh_ann_topk",
    "text_quality_scores",
    "text_contamination_8gram",
    "text_top_tfidf_term_per_doc",
    "multimodal_feature_extract",
    "q10_returned_items",
    "q18_large_volume_orders",
    "dedup_fuzzy_name_pairs",
    "embedding_kmeans_assign",
    "sketch_hll_users_by_type",
    "text_duplicate_passages",
    "q4_order_priority",
    "q7_volume_shipping",
    "q21_waiting_suppliers",
    "scd2_user_value_history",
    "text_seeded_shuffle",
    "q6_forecast_revenue",
    "q8_market_share",
    "pipeline_training_manifest",
    "grouped_map_centered_balance",
    "funnel_view_click_purchase",
    "dedup_semantic_prune",
    "similarity_pq_ann_topk",
    "text_gopher_quality_filter",
    "timeseries_interpolate_linear",
    "pipeline_strip_duplicate_passages",
    "text_quality_percentile_gate",
    "dedup_containment_pairs",
    "cohort_weekly_retention",
    "customer_rfm_segments",
    "text_contamination_bloom",
    "text_token_budget_pack",
    "text_bm25_topk",
    "embedding_pca_project",
    "dedup_connected_components_star",
    "dedup_graph_triangle_count",
    "histogram_equidepth_prices",
    "winsorize_order_prices",
    "text_zscore_by_source",
    "text_temperature_mixture",
    "text_ngram_novelty",
    "text_prefix_boilerplate_groups",
    "quality_logistic_fit",
    "dedup_graph_pagerank",
    "timeseries_ewma_kernel",
    "timeseries_ohlc_hourly",
    "timeseries_rolling_zscore",
    "text_weighted_sample_topk",
    "dq_column_profile",
    "dq_key_skew_profile",
    "pipeline_near_dedup_keep_central",
    "text_bpe_pair_counts",
    "attribution_last_touch",
    "text_inverted_index",
    "text_pmi_pairs",
    "dq_gini_doclen_by_source",
    "dq_duplicate_rate_by_source",
    "similarity_hard_negatives",
    "embedding_outlier_flags",
    "similarity_mmr_diversified",
    "timeseries_seasonal_residuals",
    "graph_label_propagation",
    "dq_ks_drift_by_source",
    "basket_pair_lift",
    "er_golden_records",
    "timeseries_quantile_bars",
    "dq_event_lag_by_type",
    # round 5 additions
    "quality_logistic_score",
    "embedding_pca_variance_audit",
    "dedup_incremental_new_vs_corpus",
    "sketch_countmin_accuracy",
    "storage_zorder_events",
    "dq_source_overlap_matrix",
    "retrieval_hybrid_rrf",
    "pipeline_forget_expand",
    "dedup_minhash_estimate_audit",
    "events_markov_transitions",
    "events_top_paths_3step",
    "events_anomaly_mad",
    "orders_benford_audit",
    # round 6 additions
    "pipeline_admission_decisions",
    "text_dsir_importance_weights",
    "embedding_matryoshka_recall",
    "dedup_incremental_components",
    "dq_split_leakage",
    "orders_abc_pareto_classes",
    "dedup_cluster_stats",
    # round 8 additions
    "text_curriculum_stages",
    "text_source_cap_rebalance",
    "agg_regr_price_vs_qty",
    "multimodal_arrow_byte_stats",
    "orders_cohort_ltv",
    "dq_schema_drift_events",
    "part_skyline_price_size",
    "dedup_edit_distance1_names",
    "text_token_fertility_by_lang",
    "embedding_int8_quant_error",
    "text_cdc_duplicate_chunks",
    "text_bpe_learn_merges",
    "text_winnowing_fingerprints",
    "dedup_winnowing_pairs",
    "graph_kcore_mirror_clusters",
    "json_variant_typed_extract",
    "text_ngram_heaps_curve",
    "dq_expectation_suite",
    "timeseries_lttb_downsample",
    "sql_recursive_assembly_rollup",
    "lateral_top2_suppliers_per_nation",
    "text_naive_bayes_lang",
    "text_repeated_ngram_loops",
    "text_bpe_encode_tokens",
    "text_zipf_rank_slope",
    "dq_mad_outlier_docs",
    "dq_psi_doclen_by_source",
    # round 10 additions
    "dedup_suffix_duplicate_spans",
    "pipeline_strip_suffix_spans",
    "similarity_blas_topk",
]

# Full-registry coverage (VERDICT r10 #2): a query has no regression
# signal until it has a FIRST timing row, so every registered key not
# already in the curated HEADLINE order is appended (sorted, after the
# explicit list so historical vs_prev ordering is untouched). New
# registrations are benched automatically from the round they land;
# the contract test pins HEADLINE == the whole registry.
BENCH_EXCLUDED: frozenset = frozenset()  # every registered key is eligible
HEADLINE = HEADLINE + sorted(
    k for k in QUERIES if k not in set(HEADLINE) and k not in BENCH_EXCLUDED
)


def _recover_tail_queries(tail: str) -> dict[str, float]:
    """Best-effort per-query timings from a TRUNCATED driver tail.

    The driver records only the last 2000 chars of stdout; rounds 2-4
    printed one long JSON line, so the head (including the opening of
    the "queries" object) is cut. Two recovery shapes:
    - complete object survives: parse it directly;
    - tail starts mid-object: take the region before the '"sf":' key
      (which closes the queries dict), regex out '"name": secs' pairs,
      drop the first pair (possibly name-truncated), and keep only
      names that are real HEADLINE queries — a vs_prev over the
      surviving suffix beats losing the round entirely.
    """
    m2 = re.search(r'"queries":\s*(\{[^{}]*\})', tail)
    if m2:
        try:
            return json.loads(m2.group(1))
        except json.JSONDecodeError:
            pass
    region = tail.split('"sf":')[0]
    pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9]+(?:\.[0-9]+)?)', region)
    valid = set(HEADLINE)
    return {
        name: float(sec)
        for name, sec in pairs[1:]
        if name in valid
    }


def _prev_round_queries() -> tuple[int | None, dict[str, float]]:
    """Previous round's per-query secs → (round, timings).

    Sources, newest eligible round wins:
    - ``BENCH_r{N}.json`` driver records (parsed line, or tail
      recovery for the truncated rounds 2-4);
    - ``BENCH_FULL.json`` — the complete record this script writes
      alongside the compact stdout line; it stamps ``round_guess`` =
      (max BENCH_r N at write time) + 1, and is only eligible when
      that guess is a PAST round (so a same-round local rerun never
      masquerades as the previous round).
    """
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    max_n = 0
    candidates: list[tuple[int, int, dict[str, float]]] = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        max_n = max(max_n, n)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = data.get("parsed") or data
        queries = parsed.get("queries")
        if not isinstance(queries, dict) or not queries:
            queries = (
                _recover_tail_queries(data["tail"])
                if isinstance(data.get("tail"), str)
                else {}
            )
        if queries:
            candidates.append((n, 0, queries))
    current = max_n + 1
    full_path = os.path.join(here, "BENCH_FULL.json")
    try:
        with open(full_path) as f:
            full = json.load(f)
        n = int(full.get("round_guess", -1))
        queries = full.get("queries")
        if isinstance(queries, dict) and queries and 0 < n < current:
            # priority 1: at equal round, the full record wins over a
            # tail-recovered partial one.
            candidates.append((n, 1, queries))
        elif n == current:
            # A SAME-round rerun already overwrote BENCH_FULL.json —
            # without this branch the rerun's vs_prev falls back to
            # the driver record's COMPACT tail (~45 slowest queries)
            # and the full round-over-round baseline is lost for the
            # rest of the round (observed in round 11: total_common
            # collapsed 106.6s -> 51.8s between two same-round runs).
            # Every full record stores the prev mapping it compared
            # against; reruns inherit it.
            pq = full.get("prev_queries")
            pn = full.get("prev_round")
            if isinstance(pq, dict) and pq and isinstance(pn, int):
                candidates.append((pn, 2, pq))
    except (OSError, json.JSONDecodeError, ValueError):
        pass
    if not candidates:
        return None, {}
    n, _, queries = max(candidates, key=lambda c: (c[0], c[1]))
    return n, queries


def _streaming_rate(spark, sf_dir: str) -> dict:
    """End-to-end streaming replay throughput: the events fixture
    (sensor_readings shape) through BOTH reference pipelines (Q1
    alerts + Q2 averages, 5 s watermark, append mode) from a parquet
    file stream in 4-file micro-batches to foreachBatch sinks.

    The reference's producer sustains ~0.33 rec/s (BASELINE.md); this
    measures how fast the same pipelines drain a backlog — events/sec
    across both queries, state store and watermark tracking included."""
    import shutil
    import tempfile

    from msk_flink_streaming_cdk_spark.jobs import REFERENCE_WATERMARK
    from msk_flink_streaming_cdk_spark.operators.reference import (
        q1_high_temp_alerts,
        q2_windowed_avg,
    )
    from msk_flink_streaming_cdk_spark.sources.files import stream_parquet_dir
    from msk_flink_streaming_cdk_spark.sources.fixtures import (
        sensor_readings_dense,
    )
    from msk_flink_streaming_cdk_spark.streaming.sinks import start

    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    # State-store partitioning sized to key cardinality: the reference
    # streams FIVE sensors, but shuffle.partitions=32 creates 32 state
    # store instances per stateful operator per micro-batch, each with
    # its own checkpoint commit — pure overhead at this key count.
    # 8 partitions (headroom over 5 keys) measured 142,579 eps vs
    # 36,778 eps at 32 on the same replay (A/B per CONTRIBUTING.md,
    # identical rows_out both ways). A real deployment sizes this to
    # its key space; restored after the replay.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        src = os.path.join(tmp, "src")
        # Dense mapping (reference's exact 5-sensor shape) so BOTH
        # pipelines emit; range-ordered files => in-order backlog
        # replay, so the watermark progresses like a Kafka catch-up
        # instead of late-dropping whole files.
        readings = sensor_readings_dense(spark, sf_dir)
        readings.orderBy("event_time").write.mode("overwrite").parquet(src)
        n = spark.read.parquet(src).count()
        schema = spark.read.parquet(src).schema

        counts: dict[str, int] = {}

        def sink(name):
            def f(df, _bid):
                counts[name] = counts.get(name, 0) + df.count()

            return f

        t0 = time.perf_counter()
        queries = []
        for name, build in (
            ("q1", q1_high_temp_alerts),
            ("q2", q2_windowed_avg),
        ):
            stream = build(
                stream_parquet_dir(spark, src, schema, max_files_per_trigger=4),
                watermark=REFERENCE_WATERMARK,
            )
            queries.append(
                start(
                    stream.writeStream.foreachBatch(sink(name)),
                    os.path.join(tmp, f"ckpt_{name}"),
                )
            )
        for q in queries:
            q.awaitTermination()
        elapsed = time.perf_counter() - t0
        return {
            "events_in": n,
            "pipelines": 2,
            "elapsed_sec": round(elapsed, 3),
            "rate_eps": round(2 * n / elapsed, 1),
            "rows_out": counts,
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def _loadavg() -> float | None:
    """1-minute /proc/loadavg sample — recorded per query into the
    FULL record (round 16, VERDICT r15 #6): the r15 32-core driver run
    showed 3-5x phantom inflations on untouched queries while its own
    8-core run reproduced r14, and triaging that required a fresh
    worktree A/B. With a load sample next to every per-query second, a
    contaminated window is diagnosable from the committed artifact
    alone. Additive field; the compact driver line is unchanged."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # Runtime bloom-filter join pruning is the 100 TB posture (see
    # session.py) but costs a uniform ~10%/query at local bench scale
    # with zero pruning benefit (round-4 A/B) — bench runs it OFF
    # unless the env explicitly opts in.
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        os.environ.get("SPARK_GRAFT_RUNTIME_BLOOM", "false"),
    )

    # JVM/codegen/parquet-reader warmup outside the timings (the first
    # parquet scan otherwise pays one-time class-loading inside the
    # first measured query).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    QUERIES["q1_alerts_daily"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Arrow/pandas-UDF worker warmup: fork one Python worker per core
    # (numpy/pandas imports) so the first pandas-UDF query measures
    # compute, not one-time process startup.
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s):
        import numpy as _np  # noqa: F401

        return s

    spark.range(0, cpus, 1, cpus).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    # Min of two runs per query: the first run pays one-time plan
    # codegen and is exposed to host CPU noise (observed 2-20x swings
    # on shared infrastructure); the min measures the engine, which is
    # what round-over-round regression tracking needs.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    HEAVY_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_SEC", "1.5"))
    # A/B discipline (VERDICT r5 item 8): any change claiming a bench
    # effect lands with before/after numbers from THIS script. Subset
    # runs via SPARK_GRAFT_BENCH_ONLY="name1,name2" keep the exact
    # warmup/min-of-N/isolation protocol without paying the full
    # suite twice.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    selected = (
        [n for n in HEADLINE if n in set(only.split(","))]
        if only
        else HEADLINE
    )
    timings: dict[str, float] = {}
    load_per_query: dict[str, float] = {}
    import gc

    from msk_flink_streaming_cdk_spark.registry.llm_q import bench_warm

    # Loaded BEFORE the loop: the previous round's per-query secs also
    # drive the burst-retry rule below.
    prev_n, prev = _prev_round_queries()
    burst_retries: dict[str, int] = {}
    for name in selected:
        # Maintained-table memos (near-dup pair graph, corpus
        # labeling) warm OUTSIDE the timed region so graph/audit
        # queries measure their own work, not a rebuild of tables a
        # production pipeline persists between runs (VERDICT r5
        # item 5; CONTRIBUTING.md).
        bench_warm(name, spark, sf_dir)
        best = float("inf")
        done = 0
        while done < runs or (best >= HEAVY_SEC and done < runs + 1):
            # Heavy queries (>= HEAVY_SEC warm) get one extra run:
            # judge re-timings in round 7 showed ±0.5s/query noise at
            # runs=2, which made sub-0.3s vs_prev deltas on the graph
            # queries read as regressions (VERDICT r7 item 5).
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
            done += 1
        # Burst-retry: this host shows intermittent multi-second
        # slowdown episodes (round-10 A/B: identical code measured
        # 1.66s..3.12s back-to-back). If the best run is still >2x
        # the previous committed record, the whole min-of-N window
        # likely fell inside a burst — grant up to 2 extra runs so
        # one episode can't fabricate a round-over-round regression.
        # The retry COUNT is recorded in the full record (r10 ADVICE:
        # the rule is one-sided — it can only shrink reported times —
        # so a number rescued by retries must be distinguishable in
        # the committed artifact from one that measured clean).
        extra = 0
        while name in prev and best > 2 * prev[name] and extra < 2:
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
            extra += 1
        if extra:
            burst_retries[name] = extra
        timings[name] = round(best, 3)
        la = _loadavg()
        if la is not None:
            load_per_query[name] = la
        # Per-query isolation, outside the timed region: drop this
        # query's persisted frames and let the JVM reclaim
        # localCheckpoint RDD blocks — otherwise storage from 70+
        # queries accumulates in one session and the TAIL of the
        # suite measures memory pressure, not the engine (observed
        # 3x degradation on late queries before this).
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    vs_prev = {
        name: round(t - prev[name], 3)
        for name, t in timings.items()
        if name in prev
    }
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
        "agg": "min",
    }
    # Streaming replay is a ~3 s measurement: a single shot scattered
    # 50k-115k eps on identical code (judge-measured, VERDICT r7
    # item 5), and round 9's median-of-3 INCLUDED the cold first run
    # in the median/spread, which is why rates_all spanned 2.4x
    # (60k cold vs 144k hot) and the warm median wobbled 137k->112k
    # with no code change (VERDICT r9 item 3 — the r9 "regression"
    # was protocol, not engine). Protocol now: ONE cold run recorded
    # separately (JIT + state-store-provider init), then median-of-N
    # WARM reps; median and spread are over the warm reps only.
    # Round 15 (VERDICT r14 #5, warm_spread 1.589 in the r14 record):
    # N raised 5 -> 9 so the median sits in the post-JIT plateau even
    # when the first warm reps are still ramping, and ``rates_all``
    # is now recorded in RUN ORDER (it was sorted before), so the
    # artifact itself distinguishes a JIT ramp (ascending prefix,
    # stable tail) from genuine scatter (no order structure) — the
    # same evidence class that settled the r9/r10 cold-run question.
    stream_reps = int(os.environ.get("SPARK_GRAFT_STREAM_REPS", "9"))
    cold_run = _streaming_rate(spark, sf_dir)
    stream_runs = [_streaming_rate(spark, sf_dir) for _ in range(stream_reps)]
    rates_order = [r["rate_eps"] for r in stream_runs]
    rates = sorted(rates_order)
    median_rate = rates[len(rates) // 2]
    streaming = dict(
        next(r for r in stream_runs if r["rate_eps"] == median_rate)
    )
    streaming.update(
        rate_eps=median_rate,
        streaming_eps_median_of=stream_reps,
        rates_all=rates_order,
        warm_spread=round(rates[-1] / rates[0], 3) if rates[0] else None,
        cold_rate_eps=cold_run["rate_eps"],
    )
    # Throughput floor (round-8 verdict #7): now that the protocol is
    # median-of-N with the cold run split out, a regression in the
    # stateful-operator path should be caught by NUMBER. Floor 75k
    # warm eps: the r8 median was 136.9k (~1.8x margin) and the
    # historical judge-measured single-shot low was 50k on identical
    # code — median-of-3 filters that scatter, so 75k only trips on a
    # real slowdown. Violation is flagged in the JSON (the driver
    # records it) rather than a nonzero exit, so the bench record
    # itself is never lost.
    floor = float(os.environ.get("SPARK_GRAFT_STREAM_FLOOR_EPS", "75000"))
    streaming["floor_eps"] = floor
    streaming["floor_violated"] = bool(median_rate < floor)
    if streaming["floor_violated"]:
        print(
            f"WARNING: warm streaming median {median_rate} eps below "
            f"floor {floor}",
            file=sys.stderr,
        )
    out["streaming"] = streaming
    if burst_retries:
        out["burst_retries"] = burst_retries
    if prev_n is not None:
        out["vs_prev"] = vs_prev
        out["prev_round"] = prev_n
        out["prev_total_common"] = round(
            sum(prev[n] for n in vs_prev), 3
        )
        out["total_common"] = round(
            sum(timings[n] for n in vs_prev), 3
        )
        ratios = sorted(
            timings[n] / prev[n] for n in vs_prev if prev[n] > 0
        )
        if ratios:
            # statistics.median averages the two middle elements for
            # even-length lists — the upper-middle pick used before
            # round 12 biased the headline slightly high (ADVICE r11).
            out["median_ratio_vs_prev"] = round(
                statistics.median(ratios), 3
            )

    # Full record → BENCH_FULL.json (the driver's stdout capture keeps
    # only the last 2000 chars, which the full line outgrew in round
    # 2 — this file is the complete, committed record every round).
    here = os.path.dirname(os.path.abspath(__file__))
    import glob as _glob

    max_n = max(
        [
            int(m.group(1))
            for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        or [0]
    )
    full = dict(out)
    full["round_guess"] = max_n + 1
    if load_per_query:
        # Contamination forensics (VERDICT r15 #6): the 1-min host
        # load sampled right after each query's timing window.
        full["loadavg_per_query"] = load_per_query
    # Who ran this record (VERDICT r11 #5): the builder session exports
    # SPARK_GRAFT_BENCH_PROVENANCE=builder around its own runs; any
    # other invocation (the external driver's per-round pass in
    # particular) defaults to "external", so a post-commit driver run
    # clobbering the committed builder record is self-describing
    # instead of forensically inferred from timestamps.
    full["provenance"] = os.environ.get(
        "SPARK_GRAFT_BENCH_PROVENANCE", "external"
    )
    # The task slots this run had and the host's core count, so two
    # records taken at different core counts are told apart from the
    # record alone.
    full["task_slots"] = cpus
    full["cpu_count"] = os.cpu_count()
    if prev_n is not None:
        # carried so same-round reruns keep the FULL prev baseline
        # (see _prev_round_queries).
        full["prev_queries"] = prev
    # Subset (SPARK_GRAFT_BENCH_ONLY) runs are A/B probes — they must
    # never clobber the committed full-suite record.
    if not only:
        # Auditable run selection (VERDICT r10 #4 / r10 ADVICE): when
        # several full runs happen in one round and the quietest is
        # committed, the committed record must still show EVERY
        # attempt's summary — otherwise the quietest-of-N policy could
        # silently mask a real regression. Each full run carries
        # forward the prior same-round attempts' summaries.
        full_path = os.path.join(here, "BENCH_FULL.json")
        considered: list[dict] = []
        try:
            with open(full_path) as f:
                old = json.load(f)
            if int(old.get("round_guess", -1)) == full["round_guess"]:
                considered = list(old.get("runs_considered", []))
                considered.append(
                    {
                        "value": old.get("value"),
                        "median_ratio_vs_prev": old.get(
                            "median_ratio_vs_prev"
                        ),
                        "total_common": old.get("total_common"),
                        "streaming_eps": old.get("streaming", {}).get(
                            "rate_eps"
                        ),
                        "n_burst_retries": sum(
                            old.get("burst_retries", {}).values()
                        ),
                        "provenance": old.get("provenance"),
                        "task_slots": old.get("task_slots"),
                        "cpu_count": old.get("cpu_count"),
                        # Per-query timings for EVERY considered run
                        # (VERDICT r13 #2): cross-run per-query noise
                        # is quantifiable from the committed artifact
                        # alone — no fresh worktree A/B needed to
                        # decide whether a vs_prev red is host burst.
                        "queries": old.get("queries"),
                    }
                )
        except (OSError, json.JSONDecodeError, ValueError):
            pass
        full["runs_considered"] = considered
        try:
            with open(full_path, "w") as f:
                json.dump(full, f)
        except OSError:
            pass
    print(json.dumps(out))

    # Compact line LAST so it survives inside the driver's 2000-char
    # tail and parses: drop per-query detail down to the slowest
    # queries that fit a fixed byte budget (full detail is in
    # BENCH_FULL.json / the line above).
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "runs_per_query": runs,
        "agg": "min",
        "n_queries": len(timings),
        "streaming_eps": out["streaming"]["rate_eps"],
        "streaming_eps_median_of": out["streaming"][
            "streaming_eps_median_of"
        ],
        "streaming_floor_eps": out["streaming"]["floor_eps"],
        "streaming_floor_violated": out["streaming"]["floor_violated"],
        "full": "BENCH_FULL.json",
    }
    for k in ("prev_round", "prev_total_common", "total_common"):
        if k in out:
            compact[k] = out[k]
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    compact["queries"] = {}
    budget = 1600 - len(json.dumps(compact))
    for name, sec in slowest:
        entry = len(name) + len(str(sec)) + 6
        if budget - entry < 0:
            break
        compact["queries"][name] = sec
        budget -= entry
    compact["queries_omitted"] = len(timings) - len(compact["queries"])
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
