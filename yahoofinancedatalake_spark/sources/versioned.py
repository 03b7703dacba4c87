"""Versioned snapshot tables — plain-parquet time travel.

Delta/Iceberg keep a transaction log so readers can query a table AS
OF an earlier version; the reference has no notion of history at all
(each ES re-index overwrites documents in place). This module gives
the engine the 80% of that contract that plain parquet can carry:

- every write lands a complete immutable snapshot under
  ``path/v=<n>/`` (monotonically increasing, zero-padded);
- a ``_SNAPSHOT_COMMITTED`` marker file makes the version visible —
  readers list committed versions only, so a crashed half-written
  snapshot is invisible (write-then-commit, the same idea as a log
  entry; Spark's own ``_SUCCESS`` guards the files *inside* the dir);
- ``read_version`` serves the latest or any historical version;
- ``vacuum_versions`` enforces retention by deleting the oldest
  committed snapshots, never the latest ``keep``.

Cost model vs Delta: snapshots are COPIES (write amplification =
table size per commit), which is the honest plain-parquet trade —
right for dimension/serving tables where history audits matter and
the table is ≪ the fact data. Fact-scale history belongs to a real
table format.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_SNAPSHOT_COMMITTED"
_V_RE = re.compile(r"^v=(\d{6})$")


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    return jvm, fs, hpath


def list_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed snapshot versions, ascending (uncommitted ignored)."""
    jvm, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        m = _V_RE.match(name)
        if m and fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                status.getPath(), _MARKER
            )
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def _all_version_dirs(spark: SparkSession, path: str) -> list[int]:
    """Every v= dir present, committed or not — the numbering domain."""
    _, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        m = _V_RE.match(status.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def write_version(
    spark: SparkSession, df: DataFrame, path: str
) -> int:
    """Land ``df`` as the next committed snapshot; returns its number.

    Numbering skips PAST any existing dir — committed or not — so a
    crashed writer's orphan directory is never reused (it stays
    invisible to readers and is reclaimable by hand or by a vacuum
    policy); ``errorifexists`` still guards the race of two live
    writers picking the same number: exactly one commits."""
    dirs = _all_version_dirs(spark, path)
    n = (dirs[-1] + 1) if dirs else 0
    vdir = f"{path}/v={n:06d}"
    df.write.mode("errorifexists").parquet(vdir)
    jvm, fs, _ = _fs(spark, path)
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{vdir}/{_MARKER}")
    ).close()
    return n


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the latest committed snapshot, or AS OF ``version``."""
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not in committed set {versions}"
        )
    return spark.read.parquet(f"{path}/v={version:06d}")


def vacuum_versions(
    spark: SparkSession, path: str, keep: int = 3
) -> list[int]:
    """Delete all but the newest ``keep`` committed snapshots;
    returns the deleted version numbers."""
    if keep < 1:
        raise ValueError("must keep at least the latest snapshot")
    versions = list_versions(spark, path)
    doomed = versions[:-keep] if len(versions) > keep else []
    jvm, fs, _ = _fs(spark, path)
    for n in doomed:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{path}/v={n:06d}"), True
        )
    return doomed
