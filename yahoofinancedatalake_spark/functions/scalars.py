"""Scalar column functions (SURVEY.md §2.8, F1-F13).

All JVM-side built-ins — these stay inside whole-stage codegen. The
reference does the same math in Python per record at ingestion
(yahoo_stocks.py:30-39, finnhub_news.py:41-49); here each is a Column
expression usable in any query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_DATE = "yyyy-MM-dd"  # F1: yahoo_stocks.py:32
ISO_INSTANT = "yyyy-MM-dd'T'HH:mm:ss'Z'"  # F4: to_elasticsearch.py:96-98


def dround(col: Column | str, scale: int) -> Column:
    """F8 — deterministic cross-engine rounding:
    floor(x·10^s + 0.5 + 1e-6)/10^s.

    Pure IEEE double arithmetic, so identical input doubles produce
    identical outputs on any engine. ``round()`` does not have this
    property: Spark rounds the shortest decimal representation
    (HALF_UP) while e.g. DuckDB rounds the binary value — they
    disagree on every non-dyadic decimal half (…x.5 at the target
    scale). Used on both sides of every oracle-checked query.

    The extra ``+ 1e-6`` bias de-knife-edges values that sit EXACTLY
    on a rounding boundary: when the two engines compute the input
    via differently-ordered float sums (e.g. a mean over a group),
    the results differ in the last ulps, and an input whose true
    value is exactly ``(2k+1)/(2·10^s)`` (common for means of
    2-decimal data) would floor to different bins on noise alone.
    The bias shifts the boundary off the decimal lattice the data
    lives on — short-decimal rationals can no longer land within
    sum-order noise of it — while agreeing with plain HALF_UP
    everywhere else. No-op whenever both engines see bit-identical
    inputs (the common case), since the function itself is identical
    on both sides.
    """
    c = F.col(col) if isinstance(col, str) else col
    factor = float(10**scale)
    return (
        F.floor(c * F.lit(factor) + F.lit(0.5) + F.lit(1e-6)).cast("double")
        / F.lit(factor)
    )


def sql_dround(expr: str, scale: int) -> str:
    """ANSI-SQL twin of :func:`dround` (DuckDB oracle side)."""
    factor = 10**scale
    return f"floor(({expr}) * {factor} + 0.5 + 1e-6) / {factor}.0"


def spark_sql_dround(expr: str, scale: int) -> str:
    """Spark-SQL-text twin of :func:`dround` (for ``spark.sql``
    templates, e.g. the parameterized serving queries).

    Differs from :func:`sql_dround` only where the dialects force it:
    Spark's ``floor()`` returns BIGINT (DuckDB's returns DOUBLE), so
    the explicit DOUBLE cast keeps the division a double, and the
    divisor is an integer literal because Spark parses ``100.0`` as
    DECIMAL(4,1) (changing the result type). Keep all three dround
    forms in this module — the knife-edge bias term is load-bearing
    for oracle parity and must change in lockstep.
    """
    factor = 10**scale
    return (
        f"CAST(floor(({expr}) * {factor} + 0.5 + 1e-6) AS DOUBLE)"
        f" / {factor}"
    )


def iso_date(col: Column | str) -> Column:
    """F1 — format a date/timestamp as ``YYYY-MM-DD``."""
    return F.date_format(col, ISO_DATE)


def iso_instant(col: Column | str) -> Column:
    """F4 — format a timestamp as ``YYYY-MM-DDTHH:MM:SSZ`` (UTC)."""
    return F.date_format(col, ISO_INSTANT)


def epoch_to_utc_ts(col: Column | str) -> Column:
    """F2 — epoch seconds → UTC timestamp (finnhub_news.py:91-92)."""
    return F.timestamp_seconds(F.col(col) if isinstance(col, str) else col)


def day_bucket(col: Column | str) -> Column:
    """F5 — truncate to the day bucket (arima_forecast.py:27)."""
    return F.date_trunc("day", col)


def daily_range(high: str = "high", low: str = "low") -> Column:
    """F7 — ``high - low`` (combine_sources.py:94)."""
    return F.col(high) - F.col(low)


def daily_change_pct(close: str = "close", open_: str = "open") -> Column:
    """F7 — ``(close - open) / open * 100``, null-safe on open=0
    (combine_sources.py:96-98)."""
    o = F.col(open_)
    return F.when(o != 0, (F.col(close) - o) / o * 100.0)


def sentiment_label(score: Column | str, threshold: float = 0.05) -> Column:
    """F10 — CASE thresholds (finnhub_news.py:41-46):
    score ≥ +t → positive; ≤ −t → negative; else neutral."""
    s = F.col(score) if isinstance(score, str) else score
    return (
        F.when(s >= threshold, F.lit("positive"))
        .when(s <= -threshold, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )


def business_days(start: Column, n: int) -> Column:
    """F6 — array of the next ``n`` business days after ``start``
    (pd.date_range(freq="B") analog, arima_forecast.py:71-73).

    Generates ceil(n * 7/5) + 7 calendar days then keeps Mon-Fri and
    slices to ``n``. Pure expression — no UDF.
    """
    span = int(n * 7 / 5) + 7
    seq = F.sequence(
        F.date_add(start, 1), F.date_add(start, span), F.expr("interval 1 day")
    )
    weekdays = F.filter(seq, lambda d: ~F.dayofweek(d).isin(1, 7))
    return F.slice(weekdays, 1, n)
