"""Bronze CSV source/sink (S-family widening beyond the reference).

The reference ingests only REST JSON (scripts/ingestion/*.py), but a
lake engine's bronze layer meets CSV constantly (vendor drops, DB
exports). Same contract as the JSONL source: explicit schema (no
inference scan over 100 TB), FAILFAST by default so the schema is a
real contract, and a PERMISSIVE + quarantine mode that lands
malformed lines in a side table instead of silently nulling them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yahoofinancedatalake_spark.session import stage_boundary

CORRUPT_COL = "_corrupt_record"


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    header: bool = True,
    mode: str = "FAILFAST",
    sep: str = ",",
) -> DataFrame:
    """Schema-enforced CSV scan.

    CSV is splittable (unlike multiLine JSON), so a 100 TB drop scans
    with full parallelism; the explicit schema avoids the
    one-extra-full-read inference pass AND pins types against the
    classic CSV drift failure (an all-null column inferring string).
    """
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", mode)
        .option("sep", sep)
        .csv(path)
    )


def read_csv_quarantine(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    header: bool = True,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE scan split into (clean, quarantined) frames.

    Malformed lines keep their raw text in ``_corrupt_record``; clean
    rows have it null. Returns the clean frame WITHOUT the corrupt
    column and a quarantine frame of the raw offending lines — the
    bronze-layer pattern that lets a 10-bad-rows vendor file load
    instead of failing the whole batch, while losing nothing.
    (Spark requires materializing the frame before filtering on the
    corrupt column — referencing it straight off the scan is
    unsupported; the scanned batch goes through ``stage_boundary``,
    so the call scans eagerly and leaves no cached table behind.)
    """
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    df = (
        spark.read.schema(full_schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("sep", sep)
        .csv(path)
        .transform(stage_boundary)
    )
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    mode: str = "overwrite",
    sep: str = ",",
    compression: str = "gzip",
) -> None:
    """CSV sink for interchange exports (headers on, gzip per part)."""
    (
        df.write.mode(mode)
        .option("header", header)
        .option("sep", sep)
        .option("compression", compression)
        .csv(path)
    )
