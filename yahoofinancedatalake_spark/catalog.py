"""Lake layout and table loading.

The reference hard-codes a three-layer directory convention
(config/settings.py:16-25: data/raw, data/formatted, data/usage). We
keep the medallion convention but make it a catalog object, and add a
loader for the driver's synthetic test tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from yahoofinancedatalake_spark.schemas import TESTDATA_TABLES
from yahoofinancedatalake_spark.sources.parquet_io import read_parquet


@dataclass(frozen=True)
class LakeCatalog:
    """Directory-per-layer medallion catalog (bronze/silver/gold)."""

    root: str
    bronze: str = field(init=False)
    silver: str = field(init=False)
    gold: str = field(init=False)

    def __post_init__(self) -> None:
        object.__setattr__(self, "bronze", str(Path(self.root) / "bronze"))
        object.__setattr__(self, "silver", str(Path(self.root) / "silver"))
        object.__setattr__(self, "gold", str(Path(self.root) / "gold"))

    def path(self, layer: str, table: str) -> str:
        return str(Path(self.root) / layer / table)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver synthetic table, its schema taken from the footer
    (:func:`~yahoofinancedatalake_spark.sources.parquet_io.read_parquet`:
    building the frame runs no Spark job).

    The driver's parquet carries ``timestamp[us]`` with
    ``isAdjustedToUTC=false``, which Spark 4 would infer as
    TIMESTAMP_NTZ. Batch plans tolerate NTZ, but event-time streaming
    does not (``withWatermark`` → EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
    so the reader maps it to TimestampType; DuckDB (which has no
    NTZ/LTZ split for these files) sees identical instants. Older
    drivers wrote TIMESTAMP(NANOS), read as micros, matching DuckDB's
    own nanos→micros truncation.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown test table {name!r}; have {TESTDATA_TABLES}")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Repartition ahead of a CPU-bound narrow transform — but ONLY
    when the input is under-split.

    The driver's testdata parquet files have a single row group, so a
    scan yields ONE task and per-row compute (hashing, shingling,
    vector math) serializes on one core; a round-robin exchange is the
    right trade there. On a real 100 TB table the scan already has
    thousands of splits, and an unconditional full-payload exchange
    would be a gratuitous shuffle — so this is a no-op once the input
    has at least ``target`` partitions. Set
    ``spark.yahoofinancedatalake.fanOut=false`` to disable entirely.
    """
    spark = df.sparkSession
    if spark.conf.get("spark.yahoofinancedatalake.fanOut", "true") == "false":
        return df
    n = partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)

