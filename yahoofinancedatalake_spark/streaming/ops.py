"""Structured Streaming re-expression of the gold queries (SURVEY §2.10).

The reference is batch-only (daily Airflow DAG,
yahoo_finance_pipeline.py:62; streaming is its own listed future work,
docs/medium_article.md:235). These operators are the idiomatic Spark
upgrade path: the same Kibana-panel semantics (time-bucketed average,
last value per group) expressed over ``readStream`` with event-time
windows + watermarks, so late events fold in correctly and state is
bounded.

Design notes for scale:

- Watermarks bound the aggregation state: a ``1 day`` tumbling window
  with a ``2 days`` watermark keeps ≤ 3 days of open windows per
  grouping key regardless of stream length.
- ``stream_daily_avg`` is the streaming twin of the batch
  ``date_bucket_avg`` query — the test suite asserts bit-equal results
  between the two plans over the same files (availableNow trigger),
  which is the real contract of a lambda-free architecture.
- ``last value per group`` has no ORDER BY in streaming; the
  streaming-legal form is ``max_by(value, ts)`` — one state row per
  key.
- ``running_last_state`` shows the custom-stateful escape hatch
  (``applyInPandasWithState``) for semantics the built-in aggregates
  can't express: per-key running last + count + first-seen carried in
  explicit GroupState with a processing-time timeout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_daily_avg(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_col: str = "event_type",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming twin of the batch ``date_bucket_avg`` (A5/F5):
    tumbling 1-day event-time window × term bucket → deterministic
    average (dround(sum)/count, same cross-engine trick as batch).
    Append-mode-compatible: the watermark closes windows."""
    from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("win"), bucket_col)
        .agg(
            (dround(F.sum(value_col), 2) / F.count("*")).alias("avg_value"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("win.start").alias("day"), bucket_col, "avg_value", "n"
        )
    )


def stream_sliding_distinct(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    bucket_col: str = "event_type",
    win_days: int = 7,
) -> DataFrame:
    """Streaming twin of the batch ``sliding_distinct_users_7d``:
    trailing ``win_days``-day distinct active users per bucket per
    window position — the sliding COUNT DISTINCT that streaming
    aggregation cannot express directly (count(DISTINCT) is
    unsupported on streams, and DISTINCT is not frame-mergeable).

    Plan: the window expansion is STATELESS (each (bucket, user, day)
    triple explodes to its <= win_days window starts via sequence()),
    so the only stateful operators are one dropDuplicates at
    (bucket, user, window_start) granularity — which IS the distinct
    — followed by the window count. Expanding before deduping matters:
    dedup at day granularity then counting triples per window counts
    a user once per ACTIVE DAY in the window, not once (measured
    wrong on the first prototype). State is bounded by distinct
    (bucket, user, window) keys; production adds a watermark to age
    it out, the bounded availableNow replay runs complete-mode."""
    day = F.date_trunc("day", ts_col)
    expanded = events.select(
        bucket_col,
        user_col,
        F.explode(
            F.sequence(
                day - F.expr(f"INTERVAL {win_days - 1} DAYS"),
                day,
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("window_start"),
    )
    return (
        expanded.dropDuplicates([bucket_col, user_col, "window_start"])
        .groupBy(bucket_col, "window_start")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def stream_value_contingency(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    bucket_width: float = 50.0,
    n_buckets: int = 10,
) -> DataFrame:
    """Streaming sufficient statistics for the chi-square
    independence drift monitor: the running contingency table
    ``(event_type, vb) -> obs`` over a fixed-width value bucketing.
    The monitor's ARCHITECTURE is the point — the stream maintains
    only the O(types x buckets) count state (mergeable, map-side
    combinable, bounded regardless of event volume); the scalar test
    statistic is derived from this tiny table per trigger by the
    shared batch formula (``queries.pack._chi2_from_cells``), because
    chained aggregations are unsupported inside a streaming plan.
    Complete/update-compatible (no watermark: state is domain-bounded
    by construction, not time-bounded)."""
    vb = F.least(
        F.lit(n_buckets - 1),
        F.floor(F.col(value_col) / F.lit(bucket_width)).cast("int"),
    )
    return (
        events.withColumn("vb", vb)
        .groupBy(type_col, "vb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )


def stream_last_value_per_group(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming W1 (Kibana "last value of X per group"): streaming
    aggregations admit no ORDER BY, so the streaming-legal form is
    ``max_by(value, ts)`` — one state row per key, updated in place.
    Run in update/complete output mode."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .agg(
            F.max_by(value_col, ts_col).alias("last_value"),
            F.max(ts_col).alias("last_ts"),
            F.count("*").alias("n_events"),
        )
    )


def stream_dedup_by_id(
    events: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keeps
    one row per id, holding state only within the watermark horizon —
    the bounded-state form of the batch dedup-by-id sink (S11). At
    100 TB/day the horizon IS the knob: state size = ids seen per
    watermark window, not per stream lifetime."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


def stream_sessions(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming sessionization: the same ``session_window``
    aggregation as the batch ``user_sessions`` query, with merging
    session state and the watermark closing sessions (append mode
    emits a session once no event can extend it)."""
    from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dround(F.sum(value_col), 2).alias("session_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join the stream against a batch
    dimension (broadcast — the dim is re-read per micro-batch, so
    slowly-changing dimensions pick up updates without restarting the
    query). The streaming twin of the gold enrich join (J1/J2)."""
    return events.join(F.broadcast(dim), on, how)


def stream_stream_attribution(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "INTERVAL 1 HOUR",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: left
    events matched to right events at-or-before them within
    ``within`` (click→purchase attribution). Both sides carry
    watermarks and the join condition bounds event-time distance, so
    each side's state is evicted once the other's watermark passes —
    bounded state however long the streams run (the unbounded-state
    trap is a stream-stream join with no time bound)."""
    l = left.select(
        F.col(key_col).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        "*",
    ).drop(key_col, ts_col).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key_col).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        "*",
    ).drop(key_col, ts_col).withWatermark("r_ts", watermark)
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts <= l_ts AND r_ts >= l_ts - {within}"
        ),
    )


#: Output schema of :func:`running_last_state`.
RUNNING_LAST_SCHEMA = (
    "user_id long, last_value double, last_ts timestamp, n_events long"
)
_STATE_SCHEMA = "last_value double, last_ts timestamp, n_events long"


def _update_last(key, pdf_iter, state: GroupState):
    """Per-key stateful update core: keep (last_value, last_ts, count)
    and yield the updated row. Shared by both timeout flavors."""
    import pandas as pd  # noqa: PLC0415

    last_value, last_ts, n = (
        state.get if state.exists else (None, None, 0)
    )
    for pdf in pdf_iter:
        pdf = pdf.dropna(subset=["ts"])
        if pdf.empty:
            continue
        n += len(pdf)
        idx = pdf["ts"].idxmax()
        ts = pdf.loc[idx, "ts"]
        if last_ts is None or ts >= last_ts:
            last_ts = ts
            last_value = float(pdf.loc[idx, "value"])
    state.update((last_value, last_ts, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_value": [last_value],
            "last_ts": [last_ts],
            "n_events": [n],
        }
    )


DEFAULT_IDLE_TIMEOUT_MS = 24 * 3600 * 1000


def _make_running_last_fn(timeout_ms: int):
    """ProcessingTimeTimeout flavor factory: evict keys idle for
    ``timeout_ms``. A timed-out key removes its state and emits
    nothing; a key with data in the batch never times out (Spark only
    surfaces hasTimedOut for keys ABSENT from the batch), so re-arming
    after every update gives sliding-idle semantics — the bounded
    state story for unbounded key cardinality."""

    def _running_last(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        yield from _update_last(key, pdf_iter, state)
        state.setTimeoutDuration(timeout_ms)

    return _running_last


#: Default 24 h flavor (kept as a module attribute for direct unit
#: tests of the timeout branch).
_running_last_fn = _make_running_last_fn(DEFAULT_IDLE_TIMEOUT_MS)


def _running_last_fn_no_timeout(key, pdf_iter, state: GroupState):
    """NoTimeout flavor: state lives for the query's lifetime."""
    yield from _update_last(key, pdf_iter, state)


def running_last_state(
    events: DataFrame,
    key_col: str = "user_id",
    evict_idle: bool = True,
    idle_timeout_ms: int = DEFAULT_IDLE_TIMEOUT_MS,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    running (last_value, last_ts, n_events) per key with explicit
    GroupState. The built-in ``max_by`` aggregate covers this case
    (see :func:`stream_last_value_per_group`); this exists as the
    tested integration shape for semantics aggregates can't express
    (session logic, decaying counters, model state).

    ``evict_idle=True`` (production default) arms a processing-time
    timeout (``idle_timeout_ms``, default 24 h) that removes idle
    keys — bounded state on an unbounded stream. Set it False for
    finite availableNow replays: with a timeout armed, the microbatch
    engine keeps scheduling empty batches to let timers fire, so an
    availableNow run never reaches its natural end. Eviction-boundary
    semantics (idle just-under keeps state, idle past evicts and the
    key restarts fresh) are integration-tested with a short TTL in
    ``tests/test_streaming.py``.
    """
    fn = (
        _make_running_last_fn(idle_timeout_ms)
        if evict_idle
        else _running_last_fn_no_timeout
    )
    conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if evict_idle
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=RUNNING_LAST_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=conf,
    )


def stream_psi_counts(
    events: DataFrame,
    boundary_days: int = 15,
    origin: str = "2024-01-01",
    value_col: str = "value",
    type_col: str = "event_type",
    bucket_width: float = 50.0,
    n_buckets: int = 10,
) -> DataFrame:
    """Streaming sufficient statistics for the PSI drift monitor
    (rung 11): running ``(event_type, period, vb) -> n`` counts,
    where ``period`` splits event time at ``boundary_days`` after
    ``origin`` (0 = baseline window, 1 = current) and ``vb`` is the
    same fixed-width bucketing as :func:`stream_value_contingency`.
    Same architecture as the chi-square rung: the stream holds only
    the O(types x 2 x buckets) mergeable count state — bounded by the
    band grid, never by event volume — and the scalar statistic is
    derived per trigger by the shared batch kernel
    (``queries.pack._psi_from_counts``), because chained aggregations
    are unsupported inside a streaming plan."""
    period = F.when(
        F.datediff(F.col("ts").cast("date"), F.lit(origin).cast("date"))
        < boundary_days,
        F.lit(0),
    ).otherwise(F.lit(1))
    vb = F.least(
        F.lit(n_buckets - 1),
        F.floor(F.col(value_col) / F.lit(bucket_width)).cast("int"),
    )
    return (
        events.withColumn("period", period)
        .withColumn("vb", vb)
        .groupBy(type_col, "period", "vb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
