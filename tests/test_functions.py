"""Scalar function + sentiment tests (SURVEY.md §2.8-2.9)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from tests.sentiment_refs import _score_batch
from yahoofinancedatalake_spark.functions.scalars import (
    business_days,
    daily_change_pct,
    daily_range,
    dround,
    iso_date,
    iso_instant,
    sentiment_label,
)
from yahoofinancedatalake_spark.functions.sentiment import sentiment_score_expr


def test_dround_half_values(spark):
    df = spark.createDataFrame(
        [(1222.745,), (0.15625,), (-3.125,), (None,)], "x double"
    )
    out = df.select(dround("x", 2).alias("r")).collect()
    # floor(x*100+0.5+1e-6)/100 — deterministic on both engines, incl.
    # None. 1222.745's binary double sits ~1e-11 BELOW the .745
    # boundary: inside the 1e-6 de-knife-edge band, so it rounds UP
    # like the true decimal half would — the band exists so sum-order
    # ulp noise between engines can never straddle the boundary.
    assert out[0].r == 1222.75
    assert out[1].r == 0.16
    assert out[2].r == -3.12
    assert out[3].r is None


def test_iso_formats_and_buckets(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 5, 14, 30, 15),)], "ts timestamp"
    )
    row = df.select(
        iso_date("ts").alias("d"), iso_instant("ts").alias("i")
    ).first()
    assert row.d == "2024-03-05"
    assert row.i == "2024-03-05T14:30:15Z"


def test_derived_metric_exprs(spark):
    df = spark.createDataFrame(
        [(10.0, 12.0, 9.0, 11.0), (10.0, 12.0, 9.0, 11.0)],
        "open double, high double, low double, close double",
    )
    row = df.select(
        daily_range().alias("r"), daily_change_pct().alias("p")
    ).first()
    assert row.r == 3.0
    assert abs(row.p - 10.0) < 1e-9
    zero = spark.createDataFrame(
        [(0.0, 1.0, 0.0, 1.0)], "open double, high double, low double, close double"
    ).select(daily_change_pct().alias("p")).first()
    assert zero.p is None  # null-safe on open=0


def test_sentiment_label_thresholds(spark):
    df = spark.createDataFrame(
        [(0.05,), (0.0499,), (-0.05,), (-0.0499,), (0.0,)], "s double"
    )
    out = [r.l for r in df.select(sentiment_label("s").alias("l")).collect()]
    assert out == ["positive", "neutral", "negative", "neutral", "neutral"]


def test_sentiment_expr_matches_python_twin(spark):
    texts = [
        ("great great win",),
        ("bad loss and fear of fraud",),
        ("the sky is blue",),
        ("",),
        (None,),
        # punctuated: split() keeps empty tokens around separators —
        # the expr must drop them or n is inflated vs the twin/oracle
        ("good a a a a a a a a a.",),
        ("Great!! Profit... (gain) -- win; really?",),
        ("...",),
        ("!?.,;",),
    ]
    df = spark.createDataFrame(texts, "t string")
    rows = df.select(sentiment_score_expr("t").alias("e")).collect()
    twin = _score_batch(pd.Series([t for (t,) in texts]))
    for r, u in zip(rows, twin):
        assert r.e == u  # JVM expression ≡ Python twin semantics
    assert rows[0].e > 0.05
    assert rows[1].e < -0.05
    assert rows[2].e == 0.0
    assert rows[5].e == 0.5  # 1 hit / 10 tokens * 5 — not 5/11
    assert rows[7].e == 0.0  # punctuation-only → no tokens → 0


def test_business_days_skips_weekends(spark):
    # 2024-01-05 is a Friday → next 5 business days = Mon..Fri next week
    df = spark.createDataFrame([(dt.date(2024, 1, 5),)], "d date")
    row = df.select(business_days(F.col("d"), 5).alias("b")).first()
    days = [d.isoformat() for d in row.b]
    assert days == [
        "2024-01-08", "2024-01-09", "2024-01-10", "2024-01-11", "2024-01-12"
    ]
    assert all(
        dt.date.fromisoformat(x).weekday() < 5 for x in days
    )


def test_dround_knife_edge_lattice(spark):
    """Pin dround on a lattice of exact rounding boundaries ± 1 ulp.

    Round-3 regression guard (VERDICT r3 §next-6): changing dround's
    boundary behavior after downstream consumers (ANN recall gates,
    oracle hashes) are tuned must fail HERE, in a unit test, not in an
    integration gate. Three-way pin: Spark `dround` == DuckDB
    `sql_dround` == the plain-python floor form, bit-exact, on values
    that sit exactly on a half boundary (2k+1)/(2·10^s) and one ulp to
    either side — the worst inputs the +1e-6 de-knife-edge band exists
    for.
    """
    import math

    import duckdb

    from yahoofinancedatalake_spark.functions.scalars import sql_dround

    for scale in (2, 4):
        f = float(10**scale)
        lattice = []
        for k in (-7, -1, 0, 1, 3, 12, 123, 9999):
            half = (2 * k + 1) / (2.0 * 10**scale)
            lattice += [
                half,
                math.nextafter(half, -math.inf),
                math.nextafter(half, math.inf),
            ]
        pyref = [math.floor(x * f + 0.5 + 1e-6) / f for x in lattice]

        df = spark.createDataFrame([(x,) for x in lattice], "x double")
        # re-pair on the input value rather than trusting collect order
        got_by_x = {
            r.x: r.r
            for r in df.select("x", dround("x", scale).alias("r")).collect()
        }
        for x, want in zip(lattice, pyref):
            assert got_by_x[x] == want, (scale, x, got_by_x[x], want)

        con = duckdb.connect()
        for x, want in zip(lattice, pyref):
            (dk,) = con.execute(
                f"SELECT {sql_dround('?::DOUBLE', scale)}", [x]
            ).fetchone()
            assert dk == want, (scale, x, dk, want)
        con.close()
