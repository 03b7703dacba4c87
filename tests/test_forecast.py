"""Property tests for the grouped forecast table function (SURVEY.md §5.4).

The model backend is iterative/numeric, so correctness is asserted as
properties (reference semantics from arima_forecast.py:76-99), not
value hashes: output shape per group, CI ordering, monotone dates,
min-data skip, and determinism across runs.
"""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.forecast import forecast_by_group
from yahoofinancedatalake_spark.forecast.grouped import _fallback_forecast

HORIZON = 5
MIN_POINTS = 10


@pytest.fixture(scope="module")
def daily(spark):
    rows = []
    rng = np.random.default_rng(42)
    base = datetime.date(2024, 1, 1)
    # group "a": 30 points, trend + noise; group "b": 20 points;
    # group "tiny": 3 points (below MIN_POINTS, must be skipped)
    for key, n, slope in (("a", 30, 0.5), ("b", 20, -0.2), ("tiny", 3, 0.0)):
        for i in range(n):
            rows.append(
                (
                    key,
                    base + datetime.timedelta(days=i),
                    100.0 + slope * i + float(rng.normal(0, 1)),
                )
            )
    return rows


@pytest.fixture(scope="module")
def forecast_df(spark, daily):
    df = spark.createDataFrame(daily, "k string, day date, v double")
    out = forecast_by_group(
        df, "k", "day", "v", horizon=HORIZON, min_points=MIN_POINTS,
        history=90, future_freq="D",
    ).cache()
    yield out
    out.unpersist()


def test_output_shape_per_group(forecast_df):
    counts = {
        (r.group_key, r.kind): r.n
        for r in forecast_df.groupBy("group_key", "kind").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert counts[("a", "actual")] == 30
    assert counts[("a", "forecast")] == HORIZON
    assert counts[("b", "actual")] == 20
    assert counts[("b", "forecast")] == HORIZON
    assert not any(k[0] == "tiny" for k in counts)  # min-data skip


def test_ci_brackets_prediction(forecast_df):
    bad = forecast_df.filter(
        (F.col("kind") == "forecast")
        & (
            (F.col("confidence_lower") > F.col("predicted"))
            | (F.col("predicted") > F.col("confidence_upper"))
        )
    ).count()
    assert bad == 0


def test_forecast_days_contiguous_after_history(forecast_df):
    rows = (
        forecast_df.filter(F.col("group_key") == "a")
        .orderBy("day")
        .collect()
    )
    days = [r.day for r in rows]
    assert days == sorted(days)
    # forecast days continue daily right after the last actual day
    actual_days = [r.day for r in rows if r.kind == "actual"]
    fc_days = [r.day for r in rows if r.kind == "forecast"]
    assert fc_days[0] == actual_days[-1] + datetime.timedelta(days=1)
    assert all(
        (b - a).days == 1 for a, b in zip(fc_days, fc_days[1:])
    )


def test_actual_rows_carry_observed_values(forecast_df, daily):
    observed = {
        (k, d): v for k, d, v in daily if k != "tiny"
    }
    for r in forecast_df.filter(F.col("kind") == "actual").collect():
        assert r.predicted == pytest.approx(observed[(r.group_key, r.day)])
        # visual-continuity contract: lower=upper=value on actual rows
        # (arima_forecast.py:82-83)
        assert r.confidence_lower == pytest.approx(r.predicted)
        assert r.confidence_upper == pytest.approx(r.predicted)


def test_deterministic_across_runs(spark, daily):
    df = spark.createDataFrame(daily, "k string, day date, v double")
    a = forecast_by_group(df, "k", "day", "v", horizon=HORIZON).collect()
    b = forecast_by_group(df, "k", "day", "v", horizon=HORIZON).collect()
    key = lambda r: (r.group_key, r.day, r.kind)  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_business_day_forecast_dates(spark, daily):
    """Default future_freq='B' mirrors the reference's
    pd.date_range(freq='B') (arima_forecast.py:71-73): forecast days
    skip weekends."""
    df = spark.createDataFrame(daily, "k string, day date, v double")
    out = forecast_by_group(
        df, "k", "day", "v", horizon=10, min_points=MIN_POINTS
    )
    fc = out.filter(
        (F.col("kind") == "forecast") & (F.col("group_key") == "a")
    ).collect()
    assert len(fc) == 10
    assert all(r.day.isoweekday() <= 5 for r in fc)


@pytest.fixture(scope="module")
def exog_daily(spark):
    """60-day series whose value is driven by an exogenous signal,
    with the signal missing (null) on some days."""
    base = datetime.date(2024, 1, 1)
    rows = []
    rng = np.random.default_rng(7)
    for i in range(60):
        x = float(np.sin(i / 5.0))  # exogenous driver
        v = 50.0 + 10.0 * x + 0.1 * i + float(rng.normal(0, 0.1))
        # signal observed only 2 days out of 3 — nulls must be
        # neutral-filled for fit, skipped for the future mean
        rows.append(("g", base + datetime.timedelta(days=i), v,
                     x if i % 3 else None))
    return spark.createDataFrame(
        rows, "k string, day date, v double, sig double"
    )


def test_exog_changes_forecast(exog_daily):
    with_exog = forecast_by_group(
        exog_daily, "k", "day", "v", horizon=HORIZON, exog_col="sig",
        future_freq="D",
    ).filter(F.col("kind") == "forecast").orderBy("day").collect()
    without = forecast_by_group(
        exog_daily, "k", "day", "v", horizon=HORIZON, future_freq="D"
    ).filter(F.col("kind") == "forecast").orderBy("day").collect()
    assert any(
        abs(a.predicted - b.predicted) > 1e-9
        for a, b in zip(with_exog, without)
    )
    # forecast rows carry the constant future exog = null-skipping
    # mean of the last 30 train-date signals (arima_forecast.py:61-63)
    pdf = exog_daily.toPandas().sort_values("day")
    expect = pdf["sig"].tail(30).mean()  # pandas mean skips None
    for r in with_exog:
        assert r.exog == pytest.approx(expect)
    assert all(r.exog is None or np.isnan(r.exog) for r in without)


def test_exog_neutral_fill_on_actual_rows(exog_daily):
    """Actual rows carry the aligned signal with nulls→0
    (reference fillna(0), arima_forecast.py:77,84)."""
    out = forecast_by_group(
        exog_daily, "k", "day", "v", horizon=HORIZON, exog_col="sig",
        future_freq="D",
    ).filter(F.col("kind") == "actual").orderBy("day").collect()
    import pandas as pd

    pdf = exog_daily.toPandas().sort_values("day")
    sig = {d: (0.0 if pd.isna(s) else s)
           for d, s in zip(pdf["day"], pdf["sig"])}
    for r in out:
        assert r.exog == pytest.approx(sig[r.day])


def test_all_null_exog_future_mean_is_neutral(spark):
    """All-missing signal → future exog 0.0 (arima_forecast.py:62-63)."""
    base = datetime.date(2024, 1, 1)
    rows = [("g", base + datetime.timedelta(days=i), 10.0 + i, None)
            for i in range(20)]
    df = spark.createDataFrame(rows, "k string, day date, v double, sig double")
    fc = forecast_by_group(
        df, "k", "day", "v", horizon=3, exog_col="sig", future_freq="D"
    ).filter(F.col("kind") == "forecast").collect()
    assert all(r.exog == 0.0 for r in fc)


def test_forecast_predictions_reference_contract(spark, exog_daily):
    """forecast_predictions emits the exact PREDICTIONS schema
    (symbol/date/predicted_close/confidence_lower/confidence_upper/
    sentiment_score/type — arima_forecast.py:78-97)."""
    from yahoofinancedatalake_spark.forecast import forecast_predictions

    values = exog_daily.select(
        F.col("k").alias("symbol"), F.col("day").alias("date"),
        F.col("v").alias("close"),
    )
    sent = exog_daily.filter(F.col("sig").isNotNull()).select(
        F.col("k").alias("symbol"), F.col("day").alias("date"),
        F.col("sig").alias("sentiment_score"),
    )
    out = forecast_predictions(values, sent, min_points=10, horizon=5)
    assert out.columns == [
        "symbol", "date", "predicted_close", "confidence_lower",
        "confidence_upper", "sentiment_score", "type",
    ]
    rows = out.collect()
    kinds = {r.type for r in rows}
    assert kinds == {"actual", "forecast"}
    assert all(r.sentiment_score is not None for r in rows)
    for r in rows:
        if r.type == "actual":
            assert r.confidence_lower == pytest.approx(r.predicted_close)


def test_fallback_tracks_linear_trend():
    # pure line: forecast must continue it almost exactly, CI ~ 0
    y = 2.0 + 3.0 * np.arange(50, dtype=np.float64)
    preds, halves = _fallback_forecast(y, 4)
    expect = 2.0 + 3.0 * np.arange(50, 54, dtype=np.float64)
    np.testing.assert_allclose(preds, expect, rtol=1e-8)
    assert float(np.max(halves)) < 1e-6


def test_fallback_ci_widens():
    rng = np.random.default_rng(0)
    y = 10.0 + rng.normal(0, 2.0, 100)
    _, halves = _fallback_forecast(y, 10)
    assert all(b >= a - 1e-12 for a, b in zip(halves, halves[1:]))
    assert halves[0] > 0
