"""Explicit StructType contracts for every dataset in the lake.

The reference relies on JSON schema inference plus ad-hoc per-column
casts (format_to_parquet.py:65-75) and encodes its only hard schema
contracts in Elasticsearch mappings (to_elasticsearch.py:39-60,
118-145, 203-218). Here the StructType IS the contract: bronze reads
use ``spark.read.schema(...)`` (fail-fast, no inference pass — at
100 TB an inference pass is a full extra scan), and sinks validate
against these before writing.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-domain tables (financial lake). Shapes from
# scripts/ingestion/yahoo_stocks.py:30-39 (stocks), :53-62 (company),
# scripts/ingestion/finnhub_news.py:101-114 (news),
# scripts/combination/combine_sources.py:101-118 (enriched gold),
# scripts/prediction/arima_forecast.py:76-99 (predictions).
# ---------------------------------------------------------------------------

STOCKS_RAW = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("date", T.StringType(), False),  # raw keeps the string form
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("fetched_at", T.StringType(), True),
    ]
)

COMPANY_RAW = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("sector", T.StringType(), True),
        T.StructField("industry", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("market_cap", T.LongType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("fetched_at", T.StringType(), True),
    ]
)

NEWS_RAW = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("summary", T.StringType(), True),
        T.StructField("pub_date", T.StringType(), True),
        T.StructField("provider", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("image", T.StringType(), True),
        T.StructField("sentiment_score", T.DoubleType(), True),
        T.StructField("sentiment_label", T.StringType(), True),
        T.StructField("fetched_at", T.StringType(), True),
    ]
)

# Gold enriched contract — 16 ordered columns (combine_sources.py:101-118).
ENRICHED_GOLD = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("sector", T.StringType(), True),
        T.StructField("industry", T.StringType(), True),
        T.StructField("date", T.DateType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("market_cap", T.LongType(), True),
        T.StructField("daily_range", T.DoubleType(), True),
        T.StructField("daily_change_pct", T.DoubleType(), True),
        T.StructField("news_count", T.LongType(), True),
        T.StructField("latest_news_date", T.TimestampType(), True),
        T.StructField("fetched_at_utc", T.TimestampType(), True),
    ]
)

# Forecast output (arima_forecast.py:76-99): actual + forecast rows with CI.
PREDICTIONS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("date", T.TimestampType(), False),
        T.StructField("predicted_close", T.DoubleType(), True),
        T.StructField("confidence_lower", T.DoubleType(), True),
        T.StructField("confidence_upper", T.DoubleType(), True),
        T.StructField("sentiment_score", T.DoubleType(), True),
        T.StructField("type", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Driver synthetic tables (/root/testdata/sf*/; FIXTURES.md Part B).
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
