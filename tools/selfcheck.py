"""Local mimic of the driver's correctness gate.

Runs every registered query (the driver's ``queries()`` entries) on
Spark and its ``oracle_sql()`` twin on DuckDB over the same parquet
tables, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded to 6 significant places — a slightly *stricter* mimic
than the driver so passing here should pass there).

Each query runs through ``Query.run``, which releases the stage
boundaries it took once its rows are collected. A query also fails
when it leaves something behind in the caller's session or the temp
dir: a new entry under ``tempfile.gettempdir()``, a temp view, an
active stream, a streaming listener bus left on the SparkContext's
bus (it keeps its session alive), or a persistent RDD (a cached
relation or an unreleased stage boundary). It fails as well
when it leaves a cached relation in the SparkContext's table cache or
drops a view the caller cached there. Each leftover is blamed on the
query that made it. The JVM, its Python workers and this process keep
their temp entries under a private temp root, so another Spark JVM on
the host is never blamed on a query.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
import tempfile
import time
from datetime import date, datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import oracle_sql  # noqa: E402
from yahoofinancedatalake_spark.queries.pack import QUERIES  # noqa: E402
from yahoofinancedatalake_spark.schemas import TESTDATA_TABLES  # noqa: E402
from yahoofinancedatalake_spark.session import get_spark  # noqa: E402


def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def persistent_rdds(spark) -> set[int]:
    """Ids of the SparkContext's persistent RDDs: the blocks of cached
    relations and of stage boundaries not yet released."""
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def collected(df) -> tuple[list[str], list[tuple]]:
    """A ``Query.run`` consumer: the frame's columns and rows."""
    return df.columns, [tuple(r) for r in df.collect()]


def residue(spark) -> dict[str, set]:
    """The caller-visible state a query must leave as it found it."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    return {
        "temp dir entries": set(os.listdir(tempfile.gettempdir())),
        "temp views": {
            t.name for t in spark.catalog.listTables() if t.isTemporary
        },
        "active streams": {q.name or q.id for q in spark.streams.active},
        "streaming listeners": {
            str(x)
            for x in bus.listeners()
            if "StreamingQueryListenerBus" in str(x)
        },
        "persistent RDDs": persistent_rdds(spark),
    }


#: a caller's view, held in the table cache while queries run
CACHED_VIEW = "selfcheck_cached_view"


def hold_cached_view(spark) -> None:
    """Cache ``CACHED_VIEW`` on ``spark``, as a caller's view would be."""
    spark.range(3).createOrReplaceTempView(CACHED_VIEW)
    spark.catalog.cacheTable(CACHED_VIEW)


def cache_leftovers(spark) -> str:
    """What a query did to the table cache ('' if nothing), given that
    it held only ``CACHED_VIEW`` before. The SparkContext's one cache
    manager is shared by every session, so a relation a query leaves
    there outlives it, and a ``clearCache`` drops what its caller
    cached. Resets the cache to the held view alone."""
    found = []
    if not spark.catalog.isCached(CACHED_VIEW):
        found.append(f"dropped the caller's cached view {CACHED_VIEW}")
    spark.catalog.uncacheTable(CACHED_VIEW)
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        found.append("left cached relations")
        spark.catalog.clearCache()
    spark.catalog.cacheTable(CACHED_VIEW)
    return "; ".join(found)


def leftovers(before: dict[str, set], after: dict[str, set]) -> str:
    """What appeared between two ``residue`` snapshots ('' if none)."""
    return "; ".join(
        f"{k} {sorted(after[k] - before[k])}"
        for k in before
        if after[k] - before[k]
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # The JVM (java.io.tmpdir), its Python workers (TMPDIR) and this
    # process (tempfile.tempdir) make their temp entries here, so the
    # temp-dir check sees this process's entries and no other's.
    root = tempfile.mkdtemp(prefix="selfcheck_")
    os.environ["TMPDIR"] = tempfile.tempdir = root
    spark = get_spark(
        "selfcheck",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}"},
    )
    try:
        return _check(spark, sf_dir, only)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


def _check(spark, sf_dir: str, only: set[str]) -> int:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = oracle_sql()
    failed: set[str] = set()
    n_run = 0
    # Once per process, on first use, the JVM unpacks its native codecs
    # and Spark makes its artifact root in the temp dir; a shuffling
    # parquet read takes those out of the first query's snapshot.
    spark.read.parquet(f"{sf_dir}/events.parquet").groupBy(
        "event_type"
    ).count().collect()
    hold_cached_view(spark)
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        n_run += 1
        before = residue(spark)
        t0 = time.time()
        try:
            scols, srows = q.run(spark, sf_dir, collected)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.add(name)
            continue
        finally:
            left = "; ".join(
                x for x in (leftovers(before, residue(spark)),
                            cache_leftovers(spark)) if x
            )
            if left:
                print(f"LEAK  {name}: left {left}")
                failed.add(name)
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            if not srows:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.add(name)
            continue
        problems = []
        # the driver's value hash renders DuckDB INT128/DECIMAL
        # differently from Spark's long — an un-cast SUM(BIGINT) is a
        # guaranteed driver hash-mismatch even when values are equal
        # (the round-4 13-query failure class). Hard-fail it here.
        widetyped = [
            f"{c}:{t}"
            for c, t in zip(ocols, otypes)
            if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")
        ]
        if widetyped:
            problems.append(
                "oracle emits driver-unsafe column types "
                f"{widetyped} — wrap the aggregate in "
                "CAST(... AS BIGINT/DOUBLE)"
            )
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"value hash {sh} != {oh}")
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("|".join(_norm(r[i]) for i in order) for r in srows)
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = sorted("|".join(_norm(r[i]) for i in oorder) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        problems.append(f"  first diff:\n  spark : {a}\n  oracle: {b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed.add(name)
        else:
            print(f"ok    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    # denominator = queries actually executed, so a filtered run can't
    # read as a clean full pass
    print(f"\n{n_run - len(failed)}/{n_run} passed"
          + ("" if n_run == len(QUERIES) else f" (of {len(QUERIES)} registered)"))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
