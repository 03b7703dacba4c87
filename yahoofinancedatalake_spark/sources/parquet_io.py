"""Parquet IO and the keyed serving sink (SURVEY.md §2.1 S2-S5, S10-S13).

The reference emulates overwrite with ``safe_rmtree`` + append
(format_to_parquet.py:26-33,78-83) and serves queries from three
Elasticsearch indices with keyed upserts (to_elasticsearch.py). Here:

- real ``mode("overwrite")`` — Spark's commit protocol handles
  atomicity; no rm-then-write window where readers see nothing;
- the ES "index with keyed ``_id`` upsert" becomes a *keyed gold
  table*: partition-overwrite upsert on a partition column.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: The Parquet summary file that holds a partitioned table's schema
#: while the table has no rows. Spark and pyarrow list it as metadata,
#: never as data.
_SUMMARY = "_common_metadata"


def _keep_schema(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """A partitioned write of no rows lands no data file, so the table
    would have no schema to read back. Write ``df``'s schema to the
    table's summary file then, partition columns last (where Spark
    puts them on read), for :func:`read_parquet`."""
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import StructType  # noqa: PLC0415

    if any(Path(path).rglob("*.parquet")):  # stops at the first file
        return
    fields = [f for f in df.schema if f.name not in partition_by]
    fields += [df.schema[c] for c in partition_by]
    pq.write_metadata(
        to_arrow_schema(StructType(fields)), os.path.join(path, _SUMMARY)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """Snappy parquet sink (Spark default codec, like the reference)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if partition_by:
        _keep_schema(df, path, partition_by)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file or directory with the schema of its footer.

    pyarrow reads one data file's footer on the driver and the schema
    is handed to the reader, so building the frame runs no Spark job;
    without it, Spark's schema inference launches a merge-schemas job
    on every read. Hive partition columns are not in the footer: Spark
    discovers them from the directory listing, as it does without a
    schema. A table with no data file is read empty with the schema of
    its summary file (see :func:`_keep_schema`); a path with neither is
    read without a schema, so Spark raises as it would.

    Every zone-less timestamp column is read as TimestampType, the
    engine's single timestamp truth (Spark would infer TIMESTAMP_NTZ):
    under the session's UTC time zone the wall-clock values are
    unchanged. TIMESTAMP(NANOS), which Spark cannot read as a
    timestamp (PARQUET_TYPE_ILLEGAL), is read as its int64 and
    truncated to micros.
    """
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.dataset as ds  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

    arrow = ds.dataset(path, format="parquet").schema
    if not arrow.names:
        summary = os.path.join(path, _SUMMARY)
        if not os.path.isfile(summary):
            return spark.read.parquet(path)
        arrow = pq.read_schema(summary)
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


def upsert_by_partition(
    spark: SparkSession, df: DataFrame, path: str, partition_col: str
) -> None:
    """Keyed upsert via dynamic partition overwrite.

    Replaces the ES bulk upsert with ``_id = f"{symbol}_{date}"``
    (to_elasticsearch.py:66-80): rows are keyed by ``partition_col``
    and only the partitions present in ``df`` are replaced —
    untouched history stays. This is the idempotent incremental write
    the reference gets from ES document ids, at file-system cost
    O(changed partitions), not O(table).
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    _keep_schema(df, path, [partition_col])


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files. Returns the new file count.

    Streaming sinks and frequent incremental upserts accumulate small
    files; at 100 TB the scan's task count (and the NameNode/listing
    load) follows file count, so periodic compaction to ~128 MB is
    standard lake maintenance. The rewrite lands in a sibling
    directory first and swaps in via two renames. Stale temp dirs
    from a crashed prior run are deleted up front and every rename's
    boolean return is asserted (HDFS ``rename`` into an existing dir
    silently *nests* the source — the failure mode the assertions
    catch). NOTE the swap itself is two renames, not one atomic op:
    there is a sub-second window where ``path`` does not exist and a
    concurrent reader's listing fails — schedule compaction off-peak
    or behind a table lock; single-writer pipelines (this repo's
    ``Pipeline``) are unaffected.
    """
    import math  # noqa: PLC0415

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(path + "__compacting")
    old = jvm.org.apache.hadoop.fs.Path(path + "__precompact")
    for stale in (tmp, old):  # crashed prior run → rename would nest
        if fs.exists(stale):
            fs.delete(stale, True)
    total = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(
        str(tmp)
    )
    if not fs.rename(hpath, old):
        raise OSError(f"compact_parquet: rename {path} -> {old} failed")
    if not fs.rename(tmp, hpath):
        fs.rename(old, hpath)  # roll back so the live table survives
        raise OSError(f"compact_parquet: rename {tmp} -> {path} failed")
    fs.delete(old, True)
    return n


def upsert_rows(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    partition_col: str,
) -> list[str]:
    """Row-level keyed upsert — the exact ES semantics of
    ``_id = f"{symbol}_{date}"`` (reference to_elasticsearch.py:78):
    each incoming row replaces the existing row with the same
    ``key_cols`` tuple; all other rows survive untouched.

    Parquet-native MERGE at O(touched partitions) write cost:

    1. touched = distinct ``partition_col`` values in ``df`` (a
       partition value count, not a row count — bounded by the number
       of partitions a batch can span, e.g. symbols or dates);
    2. read ONLY those partitions of the existing table (the ``isin``
       filter partition-prunes the scan), anti-join on ``key_cols`` to
       keep survivors;
    3. survivors ∪ incoming land in a staging dir partitioned by
       ``partition_col``; each touched partition dir is swapped into
       the live table by delete+rename (per-partition atomic).

    Untouched partitions are never read, never rewritten — write
    amplification is O(touched partitions' files), not O(history).
    This is exactly Delta/Iceberg ``MERGE`` with copy-on-write
    granularity = partition.
    Returns the list of swapped partition directory names.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        write_parquet(df, path, partition_by=[partition_col])
        return sorted(
            s.getPath().getName()
            for s in fs.listStatus(hpath)
            if s.isDirectory()
        )

    touched = [
        r[0] for r in df.select(partition_col).distinct().collect()
    ]
    existing = read_parquet(spark, path).filter(
        F.col(partition_col).isin(touched)
    )
    survivors = existing.join(
        df.select(*key_cols).distinct(), list(key_cols), "left_anti"
    )
    merged = survivors.unionByName(df.select(*existing.columns))

    staging = path + "__upserting"
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    if fs.exists(spath):  # stale staging from a crashed prior run
        fs.delete(spath, True)
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)

    # Swap the partition dirs Spark actually wrote (robust to partition
    # value escaping) — delete-then-rename per partition, asserting the
    # rename boolean like compact_parquet.
    swapped: list[str] = []
    for status in fs.listStatus(spath):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        dst = jvm.org.apache.hadoop.fs.Path(path + "/" + name)
        if fs.exists(dst):
            fs.delete(dst, True)
        if not fs.rename(status.getPath(), dst):
            raise OSError(f"upsert_rows: rename {name} -> {dst} failed")
        swapped.append(name)
    fs.delete(spath, True)
    return sorted(swapped)


def read_parquet_evolving(
    spark: SparkSession, path: str
) -> DataFrame:
    """Schema-evolution read: union the schemas of every file under
    ``path`` (``mergeSchema``) so old files simply carry nulls for
    columns added later — the bronze-layer contract for additive
    drift (new REST fields, new vendor columns).

    Trade documented: mergeSchema reads every footer up front
    (expensive at 100k files — that's what a real metastore/table
    format amortizes), so the engine default stays single-schema
    reads; this is the explicit opt-in for evolving bronze dirs.
    Renames/retypes are NOT handled — those are breaking changes that
    belong in a silver migration, not a read option.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
