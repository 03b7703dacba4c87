"""Silver/gold ETL operator tests (SURVEY.md §2.1-2.4, §5.3).

End-to-end pipeline invariants: the 16-column enriched contract
(reference combine_sources.py:101-118) and the derived-metric
identities (daily_range == high-low, daily_change_pct formula).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from yahoofinancedatalake_spark.operators.etl import (
    aggregate_news,
    combine,
    format_company,
    format_news,
    format_stocks,
)
from yahoofinancedatalake_spark.schemas import ENRICHED_GOLD


def test_format_stocks_types(stocks_df):
    out = format_stocks(stocks_df)
    d = dict(out.dtypes)
    assert d["date"] == "date"
    assert d["open"] == d["close"] == "double"
    assert d["volume"] == "bigint"
    assert d["fetched_at_utc"] == "timestamp"
    row = out.filter("symbol = 'AAPL' AND date = '2024-01-02'").first()
    assert row.close == 105.0
    assert row.date == dt.date(2024, 1, 2)


def test_format_news_filters_and_dedup(news_df):
    out = format_news(news_df)
    rows = out.collect()
    ids = sorted(r.id for r in rows)
    # n1 deduped, n0 dropped by the >= 2020-01-01 range predicate
    assert ids == ["n1", "n2", "n3"]


def test_aggregate_news_counts(news_df):
    agg = aggregate_news(format_news(news_df))
    by_symbol = {r.symbol: r for r in agg.collect()}
    assert by_symbol["AAPL"].news_count == 2
    assert by_symbol["MSFT"].news_count == 1
    assert by_symbol["AAPL"].latest_news_date == dt.datetime(2024, 1, 3, 10)


def test_combine_contract_and_derived_metrics(stocks_df, company_df, news_df):
    gold = combine(
        format_stocks(stocks_df),
        format_company(company_df),
        aggregate_news(format_news(news_df)),
    )
    # exact 16-column ordered contract
    assert gold.columns == [f.name for f in ENRICHED_GOLD.fields]
    rows = gold.collect()
    assert len(rows) == 5  # left join keeps every stock row
    for r in rows:
        assert abs(r.daily_range - (r.high - r.low)) < 1e-9
        expected_pct = (r.close - r.open) / r.open * 100.0
        assert abs(r.daily_change_pct - expected_pct) < 1e-9
    aapl = next(r for r in rows if r.symbol == "AAPL")
    assert aapl.sector == "Technology"
    assert aapl.news_count == 2


def test_combine_broadcasts_dims(stocks_df, company_df, news_df):
    gold = combine(
        format_stocks(stocks_df),
        format_company(company_df),
        aggregate_news(format_news(news_df)),
    )
    plan = gold._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the fact side must never be exchanged for these joins
    assert "SortMergeJoin" not in plan


def test_etl_gold_contract_planted_edges(spark):
    """End-to-end bronze→gold over the committed JSONL fixtures: the
    16-column contract plus the planted left-join/filter/dedup edges
    (see tools/make_fixtures.py)."""
    from yahoofinancedatalake_spark.queries.pack import QUERIES

    gold = QUERIES["etl_gold_contract"].spark(spark, "").cache()
    try:
        assert gold.columns == [
            "symbol", "name", "sector", "industry", "date", "open", "high",
            "low", "close", "volume", "market_cap", "daily_range",
            "daily_change_pct", "news_count", "latest_news_date",
            "fetched_at_utc",
        ]
        assert gold.count() == 600  # 10 symbols x 60 business days survive
        jpm = gold.filter(F.col("symbol") == "JPM").collect()
        assert jpm and all(
            r.name is None and r.market_cap is None for r in jpm
        )
        wmt = gold.filter(F.col("symbol") == "WMT").collect()
        assert wmt and all(
            r.news_count is None and r.latest_news_date is None for r in wmt
        )
        # news_count constant per symbol; pre-2020 artifacts never dominate
        # latest_news_date; derived-metric identities hold
        range_off = F.abs(
            F.col("daily_range") - (F.col("high") - F.col("low"))
        ) > 1e-12
        stale = F.col("latest_news_date") < F.lit("2020-01-01").cast(
            "timestamp"
        )
        bad = gold.filter(range_off | stale).count()
        assert bad == 0
        aapl = (
            gold.filter(F.col("symbol") == "AAPL")
            .select("news_count")
            .distinct()
        )
        assert aapl.count() == 1
    finally:
        gold.unpersist()
