"""Data-quality operator and compaction tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from yahoofinancedatalake_spark.operators.quality import (
    check,
    in_range,
    not_null,
    one_of,
)
from yahoofinancedatalake_spark.sources.parquet_io import compact_parquet


def test_check_counts_planted_violations(spark):
    rows = [
        (1, 5.0, "A"),
        (2, None, "B"),     # null price, bad flag
        (None, -1.0, "A"),  # null id, negative price
        (4, 200.0, "A"),    # price out of range
    ]
    df = spark.createDataFrame(rows, "id long, price double, flag string")
    out = {
        r.rule: (r.n_rows, r.n_violations, r.violation_rate)
        for r in check(
            df,
            [
                not_null("id"),
                in_range("price", 0.0, 100.0),
                one_of("flag", ["A"]),
            ],
        ).collect()
    }
    assert out["not_null_id"] == (4, 1, 0.25)
    assert out["range_price"] == (4, 3, 0.75)  # null, negative, 200
    assert out["one_of_flag"] == (4, 1, 0.25)
    # one aggregation pass: the plan has exactly one aggregate pair
    plan = check(df, [not_null("id")])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2  # partial + final, one scan


def test_compact_parquet_reduces_files(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 10000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(40).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 30  # genuinely fragmented
    n = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after == n == 1  # tiny table → one right-sized file
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("v")).collect()[0][0] == 10000 * 9999


def test_check_empty_input_reports_null_rate(spark):
    """Empty table: rates are null, not DIVIDE_BY_ZERO (ANSI mode)."""
    empty = spark.createDataFrame([], "close double, symbol string")
    rows = check(empty, [not_null("close")]).collect()
    assert len(rows) == 1
    assert rows[0].n_rows == 0 and rows[0].n_violations == 0
    assert rows[0].violation_rate is None


def test_compact_parquet_recovers_from_stale_temp_dirs(spark, tmp_path):
    """A crashed prior compaction leaves __compacting/__precompact
    dirs; rename into an existing dir would silently NEST the live
    table — compaction must clear them and still swap correctly."""
    import os

    path = str(tmp_path / "t")
    spark.range(0, 1000).write.parquet(path)
    os.makedirs(path + "__compacting/junk")
    os.makedirs(path + "__precompact/junk")
    compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "__compacting")
    assert not os.path.exists(path + "__precompact")
