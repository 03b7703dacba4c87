"""End-to-end pipeline driver — the Airflow DAG re-expressed as code.

The reference orchestrates ingest → format → combine → predict →
index as a daily Airflow DAG (airflow/dags/yahoo_finance_pipeline.py:
58-112: PythonOperator ingests, spark-submit BashOperators for the
two Spark jobs, then prediction and ES indexing). This module is the
same flow without the scheduler: one :class:`Pipeline` whose stages
are plain methods over a :class:`~yahoofinancedatalake_spark.catalog.
LakeCatalog`, runnable as

    python pipeline.py run --root /tmp/lake

Stage map (reference → here):

| DAG task       | reference                         | stage        |
|----------------|-----------------------------------|--------------|
| ingest_stocks  | yahoo_stocks.py (yfinance REST)   | ``ingest``   |
| ingest_news    | finnhub_news.py (Finnhub REST)    | ``ingest``   |
| format_data    | format_to_parquet.py              | ``format``   |
| combine_data   | combine_sources.py                | ``combine``  |
| predict_arima  | arima_forecast.py                 | ``predict``  |
| index_data     | to_elasticsearch.py (3 ES indices)| ``serve``    |

Ingestion reads the replayable fixture sources (sources/replay.py) —
swap in real REST callables with the same shapes for production.
The serving layer is keyed parquet tables instead of ES indices:
``stock_analysis`` upserts by symbol partition (the ES ``_id =
symbol_date`` analog, to_elasticsearch.py:78), ``stock_news`` dedups
by article id (:159), ``predictions`` is a full refresh (:199-201).
"""

from __future__ import annotations

import argparse
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import LakeCatalog
from yahoofinancedatalake_spark.forecast import forecast_predictions
from yahoofinancedatalake_spark.operators.etl import (
    aggregate_news,
    combine,
    daily_mean_sentiment,
    format_company,
    format_news,
    format_stocks,
)
from yahoofinancedatalake_spark.operators.windows import last_row_per_group
from yahoofinancedatalake_spark.schemas import COMPANY_RAW, NEWS_RAW, STOCKS_RAW
from yahoofinancedatalake_spark.sources.json_source import (
    read_jsonl,
    write_jsonl_partitioned,
)
from yahoofinancedatalake_spark.sources.parquet_io import (
    read_parquet,
    upsert_by_partition,
    upsert_rows,
    write_parquet,
)
from yahoofinancedatalake_spark.sources.replay import ingest_news, _load_jsonl

DEFAULT_FIXTURES = str(Path(__file__).resolve().parent.parent / "tests" / "fixtures" / "bronze")
SYMBOLS = ["AAPL", "GOOGL", "MSFT", "AMZN", "META", "TSLA", "NVDA", "JPM", "V", "WMT"]


class Pipeline:
    """bronze → silver → gold → forecast → serving, one lake root."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fixtures: str = DEFAULT_FIXTURES,
        symbols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.cat = LakeCatalog(root)
        self.fixtures = fixtures
        self.symbols = symbols or SYMBOLS
        #: per-stage observe() metrics from the latest run
        self.stage_metrics: dict[str, dict] = {}

    # -- ingest (DAG: ingest_stocks ∥ ingest_news) ----------------------

    def ingest(self, ingest_date: str) -> dict[str, int]:
        """Drive the replay sources and land date-partitioned bronze
        JSONL (S9, yahoo_stocks.py:68-81 layout → hive partitions).

        The fetched rows reach Spark as one Arrow table per source: a
        list of dicts would be reserialized through a Python ``map``,
        one Python task per input partition, while an Arrow table is
        read by the JVM directly, so ingest starts no Python worker."""
        import pyarrow as pa  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        spark = self.spark
        stocks = _load_jsonl(Path(self.fixtures) / "stocks.jsonl")
        stocks = [r for r in stocks if r["symbol"] in self.symbols]
        company = [
            r
            for r in _load_jsonl(Path(self.fixtures) / "company_info.jsonl")
            if r["symbol"] in self.symbols
        ]
        news = ingest_news(
            Path(self.fixtures) / "news.jsonl", self.symbols, now=ingest_date
        )
        out = {}
        for name, rows, schema in (
            ("stocks", stocks, STOCKS_RAW),
            ("company_info", company, COMPANY_RAW),
            ("news", news, NEWS_RAW),
        ):
            out[name] = len(rows)
            if not rows:
                # Spark lands no partition for no rows, and format would
                # then read a missing path: land the day empty instead,
                # replacing whatever an earlier ingest of it landed
                day = Path(
                    self.cat.path("bronze", name), f"ingest_date={ingest_date}"
                )
                shutil.rmtree(day, ignore_errors=True)
                day.mkdir(parents=True)
                continue
            table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            df = spark.createDataFrame(table, schema).withColumn(
                "ingest_date", F.lit(ingest_date)
            )
            write_jsonl_partitioned(df, self.cat.path("bronze", name))
        return out

    # -- format (DAG: format_data, format_to_parquet.py) ----------------

    def _bronze(
        self, table: str, schema, ingest_date: str | None = None
    ) -> DataFrame:
        from pyspark.sql import types as T  # noqa: PLC0415

        if ingest_date is not None:
            # ONE hive partition directory — the scan lists only this
            # date's files (assert via .inputFiles()); the partition
            # column lives in the dir name, so the base schema applies.
            path = f"{self.cat.path('bronze', table)}/ingest_date={ingest_date}"
            return read_jsonl(self.spark, path, schema)
        # StructType.add mutates in place — build a copy so the
        # module-level contracts stay pristine
        sch = T.StructType(
            list(schema.fields) + [T.StructField("ingest_date", T.StringType())]
        )
        return read_jsonl(self.spark, self.cat.path("bronze", table), sch).drop(
            "ingest_date"
        )

    def format(self, ingest_date: str | None = None) -> None:
        """Bronze JSONL → silver typed parquet (P1-P4, F3, S4).

        Re-ingested history is deduped per key, keeping the latest
        fetch — the idempotence the reference only gets at the ES
        sink (to_elasticsearch.py:78) moved up to silver.

        With ``ingest_date`` (the default from :meth:`run`): process
        ONLY that bronze partition and row-upsert it into silver
        keyed on the natural key — read cost O(one ingest day), write
        cost O(touched symbol partitions). The reference (and round-2
        ``format()``) re-reads ALL bronze history every run
        (format_to_parquet.py:26-33 rmtree+rewrite) — at 100 TB the
        full recompute grows with history while the merge stays
        O(daily delta). ``ingest_date=None`` keeps the full-recompute
        path (backfills / layout migrations); on an empty silver the
        two are identical, so the first daily run bootstraps itself.
        """
        stocks = last_row_per_group(
            format_stocks(self._bronze("stocks", STOCKS_RAW, ingest_date)),
            ["symbol", "date"],
            "fetched_at_utc",
        )
        company = last_row_per_group(
            format_company(self._bronze("company_info", COMPANY_RAW, ingest_date)),
            ["symbol"],
            "fetched_at_utc",
        )
        news = format_news(self._bronze("news", NEWS_RAW, ingest_date))
        if ingest_date is not None:
            upsert_rows(
                self.spark, stocks, self.cat.path("silver", "stocks"),
                ["symbol", "date"], "symbol",
            )
            upsert_rows(
                self.spark, company, self.cat.path("silver", "company_info"),
                ["symbol"], "symbol",
            )
            # article id is the ES ``_id`` (to_elasticsearch.py:159);
            # a re-fetched article keeps the latest fetch — upsert wins
            upsert_rows(
                self.spark, news, self.cat.path("silver", "news"),
                ["id"], "symbol",
            )
        else:
            write_parquet(
                stocks, self.cat.path("silver", "stocks"),
                partition_by=["symbol"],
            )
            write_parquet(
                company, self.cat.path("silver", "company_info"),
                partition_by=["symbol"],
            )
            write_parquet(
                news, self.cat.path("silver", "news"), partition_by=["symbol"]
            )

    # -- combine (DAG: combine_data, combine_sources.py) ----------------

    def combine(self) -> None:
        """Silver → gold 16-column enriched table (A1+J1/J2+P6/P7).

        The gold write carries an ``observe`` contract: row count and
        key-column null counts are computed on the write's own pass
        (no extra scan — at 100 TB a separate validation count is
        another full read of gold) and gate the stage via
        :func:`telemetry.assert_contract`. Metrics are kept on
        ``self.stage_metrics`` for the caller's metrics sink.
        """
        from yahoofinancedatalake_spark.telemetry import (  # noqa: PLC0415
            assert_contract,
            observe_contract,
        )

        spark = self.spark
        stocks = read_parquet(spark, self.cat.path("silver", "stocks"))
        company = read_parquet(spark, self.cat.path("silver", "company_info"))
        news = read_parquet(spark, self.cat.path("silver", "news"))
        gold = combine(stocks, company, aggregate_news(news))
        observed, obs = observe_contract(
            gold, ["symbol", "date"], "gold_contract"
        )
        write_parquet(observed, self.cat.path("gold", "enriched_stocks"))
        self.stage_metrics["combine"] = dict(obs.get)
        assert_contract(self.stage_metrics["combine"], "combine")

    # -- predict (DAG: predict_arima, arima_forecast.py) ----------------

    def predict(self) -> None:
        """Gold close series + silver news sentiment → predictions
        (X2+J3, parallel across symbols via applyInPandas)."""
        spark = self.spark
        gold = read_parquet(spark, self.cat.path("gold", "enriched_stocks"))
        news = read_parquet(spark, self.cat.path("silver", "news"))
        preds = forecast_predictions(
            gold.select("symbol", "date", "close"),
            daily_mean_sentiment(news),
        )
        # full refresh each run (to_elasticsearch.py:199-201 semantics)
        write_parquet(preds, self.cat.path("gold", "predictions"))

    # -- serve (DAG: index_data, to_elasticsearch.py) --------------------

    def serve(self) -> None:
        """Keyed serving tables replacing the three ES indices:
        stock_analysis (upsert by symbol partition — the ``_id =
        symbol_date`` analog), stock_news (dedup by id), predictions
        (full refresh)."""
        spark = self.spark
        gold = read_parquet(spark, self.cat.path("gold", "enriched_stocks"))
        upsert_by_partition(
            spark, gold, self.cat.path("serving", "stock_analysis"), "symbol"
        )
        news = read_parquet(spark, self.cat.path("silver", "news"))
        upsert_by_partition(
            spark,
            news.dropDuplicates(["id"]),
            self.cat.path("serving", "stock_news"),
            "symbol",
        )
        preds = read_parquet(spark, self.cat.path("gold", "predictions"))
        write_parquet(preds, self.cat.path("serving", "predictions"))

    # -- the DAG edge list ----------------------------------------------

    def run(self, ingest_date: str = "2024-04-01") -> dict[str, int]:
        """ingest → format → combine → predict → serve
        (yahoo_finance_pipeline.py:110-112 dependency chain)."""
        counts = self.ingest(ingest_date)
        self.format(ingest_date)
        self.combine()
        self.predict()
        self.serve()
        spark = self.spark
        counts["enriched_stocks"] = read_parquet(
            spark, self.cat.path("gold", "enriched_stocks")
        ).count()
        counts["predictions"] = read_parquet(
            spark, self.cat.path("gold", "predictions")
        ).count()
        return counts


def main(argv: list[str] | None = None) -> None:
    from yahoofinancedatalake_spark.session import get_spark  # noqa: PLC0415

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="run the full pipeline")
    run.add_argument("--root", required=True, help="lake root directory")
    run.add_argument("--fixtures", default=DEFAULT_FIXTURES)
    run.add_argument("--date", default="2024-04-01", help="ingest date")
    prep = sub.add_parser(
        "prep", help="run the training-data prep pipeline over documents"
    )
    prep.add_argument("--root", required=True, help="output root directory")
    prep.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="input directory holding documents.parquet",
    )
    prep.add_argument(
        "--incremental-batch",
        default=None,
        metavar="PARQUET_DIR",
        help="process only this batch of new documents against the "
        "dedup state a previous full run landed under --root "
        "(fingerprints + band index; O(batch), no corpus re-scan)",
    )
    args = ap.parse_args(argv)
    spark = get_spark("pipeline")
    if args.cmd == "prep":
        from yahoofinancedatalake_spark.catalog import load_table  # noqa: PLC0415
        from yahoofinancedatalake_spark.prep import (  # noqa: PLC0415
            run_prep,
            run_prep_incremental,
        )

        if args.incremental_batch:
            batch = read_parquet(spark, args.incremental_batch)
            eval_set = load_table(
                spark, args.sf_dir, "documents"
            ).filter(F.col("doc_id") % 37 == 0)
            counts = run_prep_incremental(
                spark, args.root, batch, eval_set
            )
        else:
            counts = run_prep(spark, args.sf_dir, args.root)
    else:
        counts = Pipeline(spark, args.root, args.fixtures).run(args.date)
    for k, v in counts.items():
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
