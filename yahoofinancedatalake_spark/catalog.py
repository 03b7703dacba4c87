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
    """Read one driver synthetic table, its schema taken from the footer.

    The schema is read from the footer on the driver with pyarrow (the
    path may be one file or a Spark-written directory) and handed to
    the reader, so building the frame runs no Spark job. Without it,
    Spark's parquet schema inference launches a merge-schemas job on
    every read, a large share of a small drill-down's time.

    The driver's parquet carries ``timestamp[us]`` with
    ``isAdjustedToUTC=false``, which Spark 4 would infer as
    TIMESTAMP_NTZ. Batch plans tolerate NTZ, but event-time streaming
    does not (``withWatermark`` → EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
    and the engine's single timestamp truth is session-TZ=UTC
    TimestampType. So every zone-less timestamp column is read as
    TimestampType: under a UTC session the wall-clock values are
    unchanged, and DuckDB (which has no NTZ/LTZ split for these files)
    sees identical instants. Older drivers wrote TIMESTAMP(NANOS),
    which Spark cannot read as a timestamp (PARQUET_TYPE_ILLEGAL):
    such a column is read as its int64 and truncated to micros,
    matching DuckDB's own nanos→micros truncation.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown test table {name!r}; have {TESTDATA_TABLES}")
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

    path = f"{sf_dir}/{name}.parquet"
    arrow = pq.ParquetDataset(path).schema
    nanos = [
        f.name for f in arrow
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    for c in nanos:
        i = arrow.get_field_index(c)
        arrow = arrow.set(i, arrow.field(i).with_type(pa.int64()))
    df = spark.read.schema(from_arrow_schema(arrow)).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


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

