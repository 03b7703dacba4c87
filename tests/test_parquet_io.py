"""Salted skew joins and the parquet sinks: keyed upserts, clustered and
Z-ordered layouts, schema-merge reads and partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join semantics — same rows as the plain
    join, salt column gone, under a heavily skewed key."""
    import random

    rng = random.Random(3)
    # 90% of fact rows hit key 0 — the hot-reducer shape
    fact = spark.createDataFrame(
        [(0 if rng.random() < 0.9 else rng.randrange(1, 50), i)
         for i in range(5000)],
        "k long, payload long",
    )
    dim = spark.createDataFrame(
        [(k, f"name{k}") for k in range(50)], "k long, name string"
    )
    salted = salted_join(fact, dim, on=["k"], n_salts=8)
    plain = fact.join(dim, "k")
    assert salted.columns == plain.columns
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 10), (99, 20)], "k long, p long")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    out = {r.k: r.name for r in salted_join(fact, dim, ["k"], 4,
                                            how="left").collect()}
    assert out == {1: "a", 99: None}


def test_salted_join_rejects_right_and_full(spark):
    """Replicating the build side n_salts× would emit every unmatched
    `other` row n_salts times under right/full — must raise, not
    silently corrupt."""
    fact = spark.createDataFrame([(1, 10)], "k long, p long")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    for how in ("right", "full", "right_outer", "full_outer", "outer"):
        with pytest.raises(ValueError, match="not salt-safe"):
            salted_join(fact, dim, ["k"], 4, how=how)


def test_salted_join_identical_duplicate_rows_one_bucket(spark):
    """Documented limitation: byte-identical hot rows hash to ONE salt
    (the deterministic salt is a pure function of the row), so the hot
    reducer survives — and results are still correct."""
    fact = spark.createDataFrame([(0, 7)] * 500 + [(1, 8)], "k long, p long")
    dim = spark.createDataFrame([(0, "z"), (1, "o")], "k long, name string")
    salted = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64("k", "p"), F.lit(8)).cast("int"),
    )
    assert salted.filter(F.col("k") == 0).select("__salt").distinct().count() == 1
    out = salted_join(fact, dim, ["k"], 8)
    assert out.count() == 501  # semantics still exact


def test_salted_join_salt_cols_spreads_hot_key(spark):
    """A finer deterministic discriminator via salt_cols spreads a hot
    key whose rows differ only in that column across salt buckets."""
    fact = spark.createDataFrame(
        [(0, i) for i in range(2000)], "k long, event_id long"
    )
    dim = spark.createDataFrame([(0, "z")], "k long, name string")
    salted = fact.withColumn(
        "__salt", F.pmod(F.xxhash64("event_id"), F.lit(8)).cast("int")
    )
    n_buckets = salted.select("__salt").distinct().count()
    assert n_buckets == 8  # hot key split over all reducers
    out = salted_join(fact, dim, ["k"], 8, salt_cols=["event_id"])
    assert out.count() == 2000


def test_upsert_rows_replaces_exactly_the_incoming_keys(spark, tmp_path):
    """Row-level ES-``_id`` semantics (to_elasticsearch.py:78):
    re-ingesting one (symbol, date) replaces exactly that row; every
    other row — including same-symbol history — survives."""
    from yahoofinancedatalake_spark.sources.parquet_io import upsert_rows

    path = str(tmp_path / "keyed")
    base = spark.createDataFrame(
        [("AAPL", "2024-01-02", 105.0), ("AAPL", "2024-01-03", 102.0),
         ("MSFT", "2024-01-02", 375.0)],
        "symbol string, date string, close double",
    )
    upsert_rows(spark, base, path, ["symbol", "date"], "symbol")
    patch = spark.createDataFrame(
        [("AAPL", "2024-01-03", 999.0), ("AAPL", "2024-01-04", 110.0)],
        "symbol string, date string, close double",
    )
    swapped = upsert_rows(spark, patch, path, ["symbol", "date"], "symbol")
    assert swapped == ["symbol=AAPL"]
    got = {(r.symbol, r.date): r.close
           for r in spark.read.parquet(path).collect()}
    assert got == {
        ("AAPL", "2024-01-02"): 105.0,   # same-symbol history survives
        ("AAPL", "2024-01-03"): 999.0,   # replaced by key
        ("AAPL", "2024-01-04"): 110.0,   # inserted
        ("MSFT", "2024-01-02"): 375.0,   # untouched partition
    }


def test_upsert_rows_write_amplification_is_touched_partitions(spark, tmp_path):
    """Untouched partitions' files are not rewritten: O(touched
    partitions), not O(table)."""
    import os

    from yahoofinancedatalake_spark.sources.parquet_io import upsert_rows

    path = str(tmp_path / "keyed")
    base = spark.createDataFrame(
        [("AAPL", "2024-01-02", 105.0), ("MSFT", "2024-01-02", 375.0)],
        "symbol string, date string, close double",
    )
    upsert_rows(spark, base, path, ["symbol", "date"], "symbol")
    msft_dir = os.path.join(path, "symbol=MSFT")
    before = {
        f: os.path.getmtime(os.path.join(msft_dir, f))
        for f in os.listdir(msft_dir)
    }
    patch = spark.createDataFrame(
        [("AAPL", "2024-01-02", 1.0)], "symbol string, date string, close double"
    )
    upsert_rows(spark, patch, path, ["symbol", "date"], "symbol")
    after = {
        f: os.path.getmtime(os.path.join(msft_dir, f))
        for f in os.listdir(msft_dir)
    }
    assert before == after  # byte-identical file set, never rewritten


def test_schema_evolution_merge_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.sources.parquet_io import (
        read_parquet_evolving,
    )

    p = str(tmp_path / "bronze")
    spark.range(0, 3).select(F.col("id").alias("k")).write.mode(
        "append"
    ).parquet(p)
    # later batch gains a column
    spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("x").alias("extra")
    ).write.mode("append").parquet(p)
    df = read_parquet_evolving(spark, p)
    assert set(df.columns) == {"k", "extra"}
    rows = {r.k: r.extra for r in df.collect()}
    assert rows[0] is None and rows[4] == "x" and len(rows) == 5


def test_hive_partition_pruning_reaches_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    p = str(tmp_path / "part")
    spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("ingest_date"),
    ).write.partitionBy("ingest_date").mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(F.col("ingest_date") == "2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the filter must land in PartitionFilters (pruned at planning),
    # NOT as a post-scan Filter over all partitions
    assert "PartitionFilters: [" in plan
    assert "ingest_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert df.count() == 250

