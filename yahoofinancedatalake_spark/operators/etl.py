"""Medallion ETL operators: bronze JSON → silver typed Parquet → gold.

Re-expresses the reference's two Spark jobs
(scripts/formatting/format_to_parquet.py and
scripts/combination/combine_sources.py) as pure DataFrame transforms:

- ``format_stocks/format_company/format_news``: typed-cast projection
  (P1/P2), UTC timestamp normalization (P3), range predicate (P4),
  early Date normalization (the reference carries dates as strings
  all the way to pandas — SURVEY.md §1.2).
- ``aggregate_news/combine``: per-symbol news aggregate (A1), two
  broadcast left equi-joins (J1/J2), derived metrics (P7), the
  16-column gold contract (P6).

Scale posture: the news aggregate runs BEFORE the join (same modeling
choice as combine_sources.py:71-91 — aggregate pushdown by hand),
so the join's build side is one row per symbol, always broadcastable.
The fact table never shuffles: scan → project → broadcast-join →
write. At 100 TB the only exchange in this pipeline is the news
group-by, whose output is dimension-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yahoofinancedatalake_spark.functions.scalars import (
    daily_change_pct,
    daily_range,
)


def format_stocks(raw: DataFrame) -> DataFrame:
    """Bronze stocks → silver: explicit casts + UTC parse + date type.

    Reference: format_to_parquet.py:68-75 (casts open/high/low/close →
    double, volume → long, to_utc_timestamp(fetched_at)).
    We additionally normalize ``date`` (string in raw) to DateType at
    the silver boundary instead of deferring to pandas.
    """
    return raw.select(
        F.col("symbol").cast(T.StringType()).alias("symbol"),
        F.to_date("date", "yyyy-MM-dd").alias("date"),
        F.col("open").cast(T.DoubleType()).alias("open"),
        F.col("high").cast(T.DoubleType()).alias("high"),
        F.col("low").cast(T.DoubleType()).alias("low"),
        F.col("close").cast(T.DoubleType()).alias("close"),
        F.col("volume").cast(T.LongType()).alias("volume"),
        F.to_utc_timestamp(F.col("fetched_at"), "UTC").alias("fetched_at_utc"),
    )


def format_company(raw: DataFrame) -> DataFrame:
    """Bronze company_info → silver (format_to_parquet.py:104-107)."""
    return raw.select(
        "symbol",
        "name",
        "sector",
        "industry",
        "country",
        F.col("market_cap").cast(T.LongType()).alias("market_cap"),
        "currency",
        F.to_utc_timestamp(F.col("fetched_at"), "UTC").alias("fetched_at_utc"),
    )


def format_news(raw: DataFrame, min_pub_date: str = "2020-01-01") -> DataFrame:
    """Bronze news → silver: UTC parse + range filter + dedup.

    Reference: format_to_parquet.py:135-141 (to_utc_timestamp on
    pub_date/fetched_at; ``filter(pub_date_utc >= '2020-01-01')`` to
    drop epoch-zero artifacts) plus the ingestion-side dedup by
    article id (finnhub_news.py:185-188) folded in as
    ``dropDuplicates(["id"])``. The range predicate sits directly on
    the scan so Catalyst pushes it to parquet row groups.
    """
    return (
        raw.select(
            "id",
            "symbol",
            "title",
            "summary",
            F.to_utc_timestamp(F.col("pub_date"), "UTC").alias("pub_date_utc"),
            "provider",
            "category",
            "url",
            "image",
            "sentiment_score",
            "sentiment_label",
            F.to_utc_timestamp(F.col("fetched_at"), "UTC").alias("fetched_at_utc"),
        )
        .filter(F.col("pub_date_utc") >= F.lit(min_pub_date).cast("timestamp"))
        .dropDuplicates(["id"])
    )


def daily_mean_sentiment(
    news: DataFrame,
    key_col: str = "symbol",
    ts_col: str = "pub_date_utc",
    score_col: str = "sentiment_score",
    time_col: str = "date",
) -> DataFrame:
    """Per-(symbol, day) mean sentiment (A2, arima_forecast.py:24-29).

    The reference normalizes the publish timestamp to midnight and
    takes the per-day mean inside a pandas loop; here it is one
    hash aggregation over (key, day) — partial aggregation map-side,
    dimension-sized output.
    """
    return news.groupBy(
        F.col(key_col), F.to_date(ts_col).alias(time_col)
    ).agg(F.avg(score_col).alias(score_col))


def align_daily_signal(
    values: DataFrame,
    signal: DataFrame,
    key_col: str,
    time_col: str,
    signal_col: str,
    neutral_fill: bool = True,
    neutral: float = 0.0,
) -> DataFrame:
    """J3: exact-date alignment of a sparse daily signal onto a value
    series, with neutral fill for missing days.

    Reference semantics (arima_forecast.py:47):
    ``sentiment.reindex(series.index).fillna(0)`` — for each value-row
    date, take that exact day's signal if present, else neutral. That
    is a left equi-join on (key, day) + ``coalesce(signal, neutral)``.
    (A *true* as-of join — latest signal at-or-before each date — is
    ``operators.windows``-territory; the reference deliberately uses
    exact-date match + fill, so this operator does too.)

    ``signal`` must be one row per (key, day), e.g. from
    :func:`daily_mean_sentiment`. Set ``neutral_fill=False`` to keep
    missing days null — needed by the forecaster, whose future-exog
    mean must *skip* missing days rather than count them as neutral
    (arima_forecast.py:61 uses ``.tail(30).mean()`` on the unfilled
    series).

    Scale: the signal side is one row per (key, day) — for daily data
    it is ~5 orders of magnitude smaller than a tick-level fact table
    but NOT necessarily broadcastable (10⁶ keys × years of days), so
    this is a plain shuffle join on (key, day) and Catalyst picks
    broadcast when statistics allow.
    """
    sig = signal.select(
        F.col(key_col),
        F.col(time_col),
        F.col(signal_col).alias("__sig"),
    )
    out = values.join(sig, [key_col, time_col], "left")
    filled = (
        F.coalesce(F.col("__sig"), F.lit(neutral))
        if neutral_fill
        else F.col("__sig")
    )
    return out.withColumn(signal_col, filled).drop("__sig")


def aggregate_news(news: DataFrame) -> DataFrame:
    """Per-symbol news rollup (combine_sources.py:71-77).

    ``groupBy(symbol).agg(count(*), max(pub_date_utc))`` — partial
    (map-side) aggregation comes free from Catalyst; the exchange
    carries one row per (map partition × symbol).
    """
    return news.groupBy("symbol").agg(
        F.count("*").alias("news_count"),
        F.max("pub_date_utc").alias("latest_news_date"),
    )


def combine(
    stocks: DataFrame, company: DataFrame, news_agg: DataFrame
) -> DataFrame:
    """Gold enriched table: stocks ⋈ company ⋈ news_agg + derived cols.

    Reference: combine_sources.py:80-118. Both right sides are one
    row per symbol → explicit ``broadcast()`` hints (Catalyst would
    auto-broadcast under the threshold, the hint makes the physical
    plan independent of statistics — at 100 TB the fact side must
    never become the build side).

    Derived metrics (combine_sources.py:94-98, README.md:157) are the
    F7 scalars :func:`~yahoofinancedatalake_spark.functions.scalars.daily_range`
    and :func:`~yahoofinancedatalake_spark.functions.scalars.daily_change_pct`.
    """
    dim = company.select("symbol", "name", "sector", "industry", "market_cap")
    enriched = (
        stocks.join(F.broadcast(dim), "symbol", "left")
        .join(F.broadcast(news_agg), "symbol", "left")
        .withColumn("daily_range", daily_range())
        .withColumn("daily_change_pct", daily_change_pct())
    )
    return enriched.select(
        "symbol",
        "name",
        "sector",
        "industry",
        "date",
        "open",
        "high",
        "low",
        "close",
        "volume",
        "market_cap",
        "daily_range",
        "daily_change_pct",
        "news_count",
        "latest_news_date",
        "fetched_at_utc",
    )
