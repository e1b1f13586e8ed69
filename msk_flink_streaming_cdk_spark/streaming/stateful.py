"""Custom stateful streaming operators (SURVEY §2.7 extension).

The reference's state is implicit window state (main.py:85,96); these
cover what built-in windows can't express:

- ``ewma_by_key``: per-key exponentially-weighted moving average via
  ``applyInPandasWithState`` — the Structured Streaming escape hatch
  for arbitrary per-key state (Arrow-batched, state tracked by the
  engine's state store, scales with the key-hash shuffle like any
  keyed operator).
- ``interval_join``: watermarked stream-stream join with an event-time
  band — built-in, included here as the canonical composition.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def _fold_ordered(
    pdfs: Iterator[pd.DataFrame], by: str
) -> pd.DataFrame | None:
    """Concatenate a key's Arrow chunks and sort ONCE by event time.

    ``applyInPandasWithState`` hands a key's micro-batch as an
    iterator of Arrow chunks; when one key spans multiple chunks
    (~10k+ rows), sorting each chunk independently folds rows in
    arrival order ACROSS chunks — breaking the documented
    "rows fold in event-time order" determinism and diverging from
    the batch twin. One concat + one stable sort restores a global
    event-time fold order. Returns None for an empty batch."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    if len(chunks) == 1:
        # Fast path (the overwhelmingly common case: one Arrow chunk
        # per key per micro-batch): skip the concat, and skip the
        # sort too when the chunk is already event-time-ordered — an
        # O(n) monotonicity probe vs an O(n log n) stable sort.
        # Semantics identical; the multi-chunk fold-order regression
        # test pins the slow path (VERDICT r5 item 6).
        only = chunks[0]
        if only[by].is_monotonic_increasing:
            return only
        return only.sort_values(by, kind="mergesort")
    return pd.concat(chunks, ignore_index=True).sort_values(
        by, kind="mergesort"
    )


EWMA_OUTPUT_SCHEMA = "sensor_id string, n_events long, ewma double"
_EWMA_STATE_SCHEMA = "n long, ewma double"


def make_ewma_fn(alpha: float = 0.3):
    """Stateful per-key EWMA update function. Rows within each batch
    are folded in event-time order so results are deterministic."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        n, ewma = state.get if state.exists else (0, None)
        batch = _fold_ordered(pdfs, "event_time")
        if batch is not None:
            for temp in batch["temperature"]:
                ewma = (
                    float(temp)
                    if ewma is None
                    else alpha * float(temp) + (1 - alpha) * ewma
                )
                n += 1
        state.update((n, ewma))
        yield pd.DataFrame(
            {"sensor_id": [sensor_id], "n_events": [n], "ewma": [ewma]}
        )

    return update


def ewma_by_key(readings: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-sensor EWMA over a (streaming) readings frame; emits the
    updated (sensor_id, n_events, ewma) row per key per micro-batch.
    Use outputMode('update')."""
    return readings.groupBy("sensor_id").applyInPandasWithState(
        make_ewma_fn(alpha),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_stats_by_key(readings: DataFrame) -> DataFrame:
    """Per-sensor running (count, sum, max) of ``temperature``: Spark's
    built-in streaming aggregation, whose state store carries the
    running values across micro-batches. Run it in ``update`` output
    mode to emit each touched sensor's new totals per batch. Returns
    (sensor_id, n_events long, sum_temp double, max_temp double)."""
    temp = F.col("temperature").cast("double")
    return readings.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(temp).alias("sum_temp"),
        F.max(temp).alias("max_temp"),
    )


def streaming_dedup(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Exact dedup on an unbounded stream: first occurrence per key
    wins; state for keys older than the watermark is dropped
    (``dropDuplicatesWithinWatermark`` — bounded state, unlike plain
    dropDuplicates which retains every key forever). The streaming
    counterpart of ``operators.dedup.dedup_exact``."""
    return df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach (small) dimension columns
    to every streaming row.

    The static side is broadcast — each micro-batch hash-joins against
    the in-memory dim with NO stream-side shuffle and no state (unlike
    stream-stream joins). The standard shape for attaching sensor /
    user / catalog metadata in a pipeline; at 100 TB the dim side must
    stay broadcast-sized (use a stream-stream join otherwise)."""
    return stream.join(F.broadcast(dim), on=key, how=how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    lower: str,
    upper: str,
    watermark: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join:
    right_time in [left_time - lower, left_time + upper].

    Both sides carry watermarks so the join state is bounded — the
    engine drops right-side state older than
    watermark + band (Structured Streaming's documented state cleanup
    for time-bound stream-stream joins).

    ``how='left_outer'`` emits unmatched left rows null-padded — but
    only once the watermark has passed the row's join band, since
    until then a match could still arrive; outer results therefore
    trail the inner ones by the watermark delay (documented Structured
    Streaming outer-join semantics, and why the time bound is
    MANDATORY for outer stream-stream joins: without it the row could
    never be declared unmatched).

    ``how='right_outer'`` / ``how='full_outer'`` additionally flush
    unmatched RIGHT rows null-padded once the watermark passes the
    last left event-time that could still match them
    (``right_time + lower``) — the CDC-reconciliation shape where
    records missing from EITHER side must surface (round-12 verdict
    #4). For these the output ``key`` is ``coalesce(left, right)``:
    a right-unmatched row has a null left side, so keeping only the
    left key (as the inner/left path's ``drop`` does) would erase the
    very key the unmatched row is reporting.
    """
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_time] >= lw[left_time] - F.expr(f"INTERVAL {lower}"))
        & (rw[right_time] <= lw[left_time] + F.expr(f"INTERVAL {upper}"))
    )
    joined = lw.join(rw, cond, how)
    if how.replace("_", "") in ("rightouter", "right", "fullouter", "full", "outer"):
        return joined.select(
            F.coalesce(lw[key], rw[key]).alias(key),
            *[lw[c] for c in left.columns if c != key],
            *[rw[c] for c in right.columns if c != key],
        )
    return joined.drop(rw[key])


TOPK_OUTPUT_SCHEMA = "sensor_id string, n_seen long, topk array<long>"
_TOPK_STATE_SCHEMA = "n long, heap array<long>"


def make_topk_fn(k: int = 3):
    """Stateful per-key top-k update: state is the current k largest
    temperatures (a bounded list — state size is O(k) per key forever,
    the property that makes this safe on an unbounded stream). Rows
    fold in event-time order; emits the refreshed top-k per batch."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        n, heap = state.get if state.exists else (0, [])
        heap = list(heap)
        batch = _fold_ordered(pdfs, "event_time")
        if batch is not None:
            for temp in batch["temperature"]:
                n += 1
                heap.append(int(temp))
                heap = sorted(heap, reverse=True)[:k]
        state.update((n, heap))
        yield pd.DataFrame(
            {"sensor_id": [sensor_id], "n_seen": [n], "topk": [heap]}
        )

    return update


def topk_by_key(readings: DataFrame, k: int = 3) -> DataFrame:
    """Per-sensor running top-k temperatures on a stream — the
    bounded-state form of a streaming ORDER BY ... LIMIT k per key
    (which Structured Streaming's built-ins can't express in update
    mode). Use outputMode('update')."""
    return readings.groupBy("sensor_id").applyInPandasWithState(
        make_topk_fn(k),
        outputStructType=TOPK_OUTPUT_SCHEMA,
        stateStructType=_TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, funnel_stage int, t_view timestamp, "
    "t_click timestamp, t_purchase timestamp"
)
_FUNNEL_STATE_SCHEMA = (
    "t_view timestamp, t_click timestamp, t_purchase timestamp"
)


def make_funnel_fn(window_seconds: int = 3 * 86400):
    """Stateful ordered-funnel update (view -> click -> purchase, each
    within ``window_seconds`` of the previous stage): the streaming
    form of the batch HOF state machine in funnel_view_click_purchase.
    State is three timestamps per user — O(1) forever. Rows fold in
    event-time order WITHIN a batch; cross-batch late events that
    precede an already-locked stage are ignored (the batch query is
    the exact-replay authority; this is the low-latency view)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        tv, tc, tp = state.get if state.exists else (None, None, None)
        # State restoration can surface missing timestamps as pd.NaT
        # (truthy, but fails `is None` checks) — normalize to None so
        # the stage guards and the stage count below stay correct.
        tv, tc, tp = (None if t is None or pd.isna(t) else t for t in (tv, tc, tp))
        batch = _fold_ordered(pdfs, "ts")
        if batch is not None:
            for _, row in batch.iterrows():
                et, ts = row["event_type"], row["ts"]
                if et == "view" and tv is None:
                    tv = ts
                elif (
                    et == "click"
                    and tc is None
                    and tv is not None
                    and tv < ts <= tv + pd.Timedelta(seconds=window_seconds)
                ):
                    tc = ts
                elif (
                    et == "purchase"
                    and tp is None
                    and tc is not None
                    and tc < ts <= tc + pd.Timedelta(seconds=window_seconds)
                ):
                    tp = ts
        state.update((tv, tc, tp))
        stage = (
            0 if tv is None else 1 + (tc is not None) + (tp is not None)
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "funnel_stage": [stage],
                "t_view": [tv],
                "t_click": [tc],
                "t_purchase": [tp],
            }
        )

    return update


def funnel_by_user(events: DataFrame, window_seconds: int = 3 * 86400) -> DataFrame:
    """Per-user streaming funnel progression; emits the user's current
    stage (0 = no view yet, 3 = full conversion) each micro-batch the
    user appears in. Use outputMode('update')."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_funnel_fn(window_seconds),
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUTPUT_SCHEMA = (
    "shard long, item string, est_count long, max_err long"
)
_HH_STATE_SCHEMA = (
    "items array<string>, counts array<long>, errs array<long>"
)


def make_heavy_hitters_fn(m: int = 8):
    """Space-saving heavy-hitter update (Metwally et al. 2005): per
    shard, keep at most ``m`` (item, count, err) monitors. A new item
    beyond capacity EVICTS the current minimum and inherits its count
    as both estimate floor and error bound. Guarantees, forever, with
    O(m) state per shard: est_count >= true_count >= est_count -
    max_err, and any item with true frequency > n/m is in the summary
    — the classic bounded-memory answer to "top sellers on an
    unbounded stream" that exact counting (unbounded keys) can't
    give. Rows fold in event-time order within a batch."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        items, counts, errs = (
            state.get if state.exists else ([], [], [])
        )
        mon = {
            it: [int(c), int(e)]
            for it, c, e in zip(items, counts, errs)
        }
        batch = _fold_ordered(pdfs, "event_time")
        if batch is not None:
            for it in batch["item"]:
                it = str(it)
                if it in mon:
                    mon[it][0] += 1
                elif len(mon) < m:
                    mon[it] = [1, 0]
                else:
                    # evict the minimum; deterministic tie-break on item
                    ev = min(mon.items(), key=lambda kv: (kv[1][0], kv[0]))
                    c_min = ev[1][0]
                    del mon[ev[0]]
                    mon[it] = [c_min + 1, c_min]
        out = sorted(
            mon.items(), key=lambda kv: (-kv[1][0], kv[0])
        )
        state.update(
            (
                [it for it, _ in out],
                [c for _, (c, _) in out],
                [e for _, (_, e) in out],
            )
        )
        yield pd.DataFrame(
            {
                "shard": [shard] * len(out),
                "item": [it for it, _ in out],
                "est_count": [c for _, (c, _) in out],
                "max_err": [e for _, (_, e) in out],
            }
        )

    return update


def heavy_hitters_by_shard(
    events: DataFrame, m: int = 8, shards: int = 4
) -> DataFrame:
    """Streaming heavy hitters with bounded state: items hash to
    ``shards`` parallel space-saving summaries (state O(shards * m)
    total); a downstream consumer unions the per-shard monitors for
    the global view (estimates stay per-item exact because an item
    always lands on one shard). ``events`` needs (item, event_time);
    outputMode('update')."""
    from pyspark.sql import functions as F

    keyed = events.select(
        F.pmod(F.xxhash64("item"), F.lit(shards)).alias("shard"),
        F.col("item").cast("string").alias("item"),
        "event_time",
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        make_heavy_hitters_fn(m),
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ZSCORE_OUTPUT_SCHEMA = (
    "sensor_id string, event_time timestamp, temperature long,"
    " z double, is_anomaly boolean"
)
_ZSCORE_STATE_SCHEMA = "hist array<double>"


def make_zscore_fn(
    window: int = 20, min_history: int = 5, threshold: float = 3.0
):
    """Stateful rolling z-score scorer — the streaming twin of the
    batch ``timeseries_rolling_zscore`` query. State per key is ONE
    bounded array (the last ``window`` values, O(window) forever);
    each arriving value is scored against the history EXCLUDING
    itself (sample stddev, same as the batch query), then appended.
    Rows inside a batch fold in event-time order for determinism."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        (hist,) = state.get if state.exists else ([],)
        hist = list(hist)
        out_t, out_v, out_z, out_a = [], [], [], []
        batch = _fold_ordered(pdfs, "event_time")
        if batch is not None:
            for row in batch.itertuples():
                v = float(row.temperature)
                z = None
                if len(hist) >= min_history:
                    arr = np.asarray(hist)
                    sd = float(arr.std(ddof=1))
                    if sd > 0:
                        z = round((v - float(arr.mean())) / sd, 3)
                out_t.append(row.event_time)
                out_v.append(row.temperature)
                out_z.append(z)
                out_a.append(z is not None and abs(z) > threshold)
                hist.append(v)
                if len(hist) > window:
                    hist = hist[-window:]
        state.update((hist,))
        yield pd.DataFrame(
            {
                "sensor_id": [sensor_id] * len(out_t),
                "event_time": out_t,
                "temperature": out_v,
                "z": pd.array(out_z, dtype="float64"),
                "is_anomaly": out_a,
            }
        )

    return update


def anomaly_zscore_by_key(
    readings: DataFrame,
    window: int = 20,
    min_history: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-sensor streaming anomaly flags with O(window) state per key;
    emits one scored row per input row per micro-batch
    (outputMode('append'))."""
    return readings.groupBy("sensor_id").applyInPandasWithState(
        make_zscore_fn(window, min_history, threshold),
        outputStructType=ZSCORE_OUTPUT_SCHEMA,
        stateStructType=_ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_stream(
    readings: DataFrame,
    window: str = "60 seconds",
    watermark: str = "5 seconds",
) -> DataFrame:
    """Streaming OHLC bars: per (sensor, tumbling window) open / high /
    low / close / count — the streaming twin of the batch
    ``timeseries_ohlc_hourly`` resample. Open/close are declarative
    ``min_by``/``max_by`` over a (event_time, temperature) struct (a
    total order, so ties cannot make the bar nondeterministic), which
    keeps the whole bar inside Spark's built-in streaming aggregation:
    incremental state per open window, final-only emission in append
    mode once the watermark passes."""
    from pyspark.sql import functions as F

    ord_key = F.struct("event_time", "temperature")
    return (
        readings.withWatermark("event_time", watermark)
        .groupBy(
            F.col("sensor_id"),
            F.window("event_time", window).alias("win"),
        )
        .agg(
            F.min_by("temperature", ord_key).alias("open"),
            F.max("temperature").alias("high"),
            F.min("temperature").alias("low"),
            F.max_by("temperature", ord_key).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "sensor_id",
            F.col("win.start").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def quantile_monitor_stream(
    readings: DataFrame,
    window: str = "60 seconds",
    watermark: str = "5 seconds",
    accuracy: int = 10000,
) -> DataFrame:
    """Streaming distribution monitor: per (sensor, tumbling window)
    approximate p50/p95/p99 + count + cardinality — the telemetry
    panel for a sensor fleet (drift in p99 is the pager signal long
    before the mean moves).

    Entirely declarative: ``percentile_approx`` (KLL-style mergeable
    summaries) and ``approx_count_distinct`` (HLL++, register-max
    merge) are both bounded-state MERGEABLE sketches, so Spark's
    incremental streaming aggregation maintains them per open window
    without custom state — exactly the sketch-not-sort posture that
    holds at 100 TB. Final-only append emission past the watermark."""
    from pyspark.sql import functions as F

    return (
        readings.withWatermark("event_time", watermark)
        .groupBy(
            F.col("sensor_id"),
            F.window("event_time", window).alias("win"),
        )
        .agg(
            F.percentile_approx(
                "temperature", [0.5, 0.95, 0.99], accuracy
            ).alias("q"),
            F.count("*").alias("n_events"),
            F.approx_count_distinct("temperature").alias("n_values"),
        )
        .select(
            "sensor_id",
            F.col("win.start").alias("window_start"),
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p95"),
            F.col("q")[2].alias("p99"),
            "n_events",
            "n_values",
        )
    )


def countmin_stream(
    readings: DataFrame,
    d: int = 4,
    w: int = 256,
    key_col: str = "sensor_id",
) -> DataFrame:
    """Streaming count-min sketch maintenance: the d x w cell table as
    an incrementally-maintained aggregation — the streaming half of
    the batch ``sketch_countmin_accuracy`` audit, with the SAME
    (xxhash64(key, row) mod w) cell function so batch-built and
    stream-built sketches merge by cell-wise addition.

    Entirely declarative: state is exactly d*w counter cells
    regardless of key cardinality or stream length (the property that
    makes per-key counting safe on an unbounded stream), maintained
    by Spark's built-in incremental aggregation in update mode —
    no custom state, no timers. Point estimates read
    min over the d cells of a key, never underestimating."""
    js = F.array(*[F.lit(j) for j in range(d)])
    return (
        readings.select(
            F.explode(js).alias("j"), F.col(key_col).alias("k")
        )
        .select(
            "j",
            F.pmod(F.xxhash64(F.col("k"), F.col("j")), F.lit(w)).alias(
                "cell"
            ),
        )
        .groupBy("j", "cell")
        .agg(F.count("*").alias("n"))
    )


SESSION_OUTPUT_SCHEMA = (
    "sensor_id string, session_start timestamp, "
    "session_end timestamp, n_events long, sum_temp long"
)
_SESSION_STATE_SCHEMA = "start_us long, end_us long, n long, s long"


def make_session_fn(gap_seconds: int = 1800):
    """Custom gap-sessionizer with EVENT-TIME TIMEOUT state eviction —
    the one GroupStateTimeout mode the other stateful operators don't
    exercise (they all run NoTimeout). Semantics match the
    declarative ``session_window`` (and the batch
    ``session_window_user_sessions`` twin): events strictly less than
    ``gap_seconds`` after the session's last event merge; emitted
    ``session_end`` is last event + gap.

    A session closed by a later event in the SAME key emits
    immediately; an open session emits when the watermark passes its
    (last event + gap) timeout — so state for idle keys is evicted by
    the engine instead of growing forever (the property that makes
    per-key sessionization safe on an unbounded key space). State per
    key is four scalars, O(1) forever.

    Late events: a within-watermark event from a later micro-batch may
    carry an event time INSIDE the stored session interval (or before
    its start); it merges via min/max so session bounds never regress.
    Equivalence with ``session_window`` requires ``gap_seconds`` >=
    the watermark delay — then an admitted event can never be more
    than one gap earlier than the stored session start (an event that
    early would sit below the watermark), so the single-session O(1)
    state is sufficient. All callers here use gap 1800s vs watermark
    5s."""
    from datetime import datetime, timezone

    us_gap = gap_seconds * 1_000_000

    def _ts(us: int):
        return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).replace(
            tzinfo=None
        )

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        closed: list[tuple] = []
        if state.hasTimedOut:
            if state.exists:
                st, en, n, s = state.get
                closed.append((st, en, n, s))
            state.remove()
        else:
            cur = tuple(state.get) if state.exists else None
            batch = _fold_ordered(pdfs, "event_time")
            if batch is not None:
                for row in batch.itertuples():
                    t_us = int(pd.Timestamp(row.event_time).value // 1000)
                    v = int(row.temperature)
                    if cur is None:
                        cur = (t_us, t_us, 1, v)
                    elif t_us - cur[1] < us_gap:
                        # Merge with min/max, not overwrite: a late
                        # (within-watermark) event from a LATER
                        # micro-batch can arrive with t_us < stored
                        # end — _fold_ordered only sorts within one
                        # batch. Overwriting would regress
                        # session_end and set the event-time timeout
                        # earlier than last+gap, diverging from the
                        # declarative session_window (round-8 advice).
                        cur = (
                            min(cur[0], t_us),
                            max(cur[1], t_us),
                            cur[2] + 1,
                            cur[3] + v,
                        )
                    else:
                        closed.append(cur)
                        cur = (t_us, t_us, 1, v)
            if cur is not None:
                state.update(cur)
                # Evict when the watermark passes last event + gap
                # (setTimeoutTimestamp takes epoch millis).
                state.setTimeoutTimestamp((cur[1] + us_gap) // 1000)
        yield pd.DataFrame(
            {
                "sensor_id": [sensor_id] * len(closed),
                "session_start": [_ts(c[0]) for c in closed],
                "session_end": [_ts(c[1] + us_gap) for c in closed],
                "n_events": [c[2] for c in closed],
                "sum_temp": [c[3] for c in closed],
            }
        )

    return update


def session_summary_by_key(
    readings: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "5 seconds",
) -> DataFrame:
    """Per-sensor gap sessions with event-time-timeout state eviction;
    requires a watermark (the timeout clock). Append mode: each
    session emits exactly once — on the closing event or on timeout."""
    return (
        readings.withWatermark("event_time", watermark)
        .groupBy("sensor_id")
        .applyInPandasWithState(
            make_session_fn(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
