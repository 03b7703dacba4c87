"""Parameterized serving surface (queries/serve.py): binding
semantics + the pushdown plan pin.

The whole point of named-parameter binding over string formatting is
that the bound literal reaches the parquet scan as a pushed filter —
at 100 TB a dashboard drill-down reads one symbol's row groups, not
the corpus. These tests pin that, and the binding contract itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_catalog import jobs_in_group
from yahoofinancedatalake_spark.queries.serve import TEMPLATES, bound

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    # formatted mode prints the scan's FULL PushedFilters list (the
    # plain toString truncates FileScan metadata at ~100 chars)
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_bound_literal_pushes_to_scan(spark):
    df = bound(spark, SF_DIR, "top_flop_for_symbol", uid=7)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(user_id,7)" in plan, plan[:2000]


def test_multi_param_binding_pushes_all_filters(spark):
    df = bound(
        spark,
        SF_DIR,
        "type_window_daily",
        uid=3,
        etype="purchase",
        start_day="2024-01-05",
        end_day="2024-02-01",
    )
    plan = _plan(df)
    assert "EqualTo(user_id,3)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    # the cast-from-string timestamps constant-fold into range filters
    assert "GreaterThanOrEqual(ts," in plan
    assert "LessThan(ts," in plan


def test_bindings_select_disjoint_symbols(spark):
    a = bound(spark, SF_DIR, "top_flop_for_symbol", uid=7)
    b = bound(spark, SF_DIR, "top_flop_for_symbol", uid=11)
    assert [r.user_id for r in a.select("user_id").distinct().collect()] == [
        7
    ]
    assert [r.user_id for r in b.select("user_id").distinct().collect()] == [
        11
    ]
    # same template, different binding → different data
    assert a.count() > 0 and b.count() > 0


def test_bound_matches_direct_dataframe_equivalent(spark):
    """The bound template computes the same frame as the DataFrame
    API twin (the daily kernel shared with top_flop)."""
    from yahoofinancedatalake_spark.catalog import load_table
    from yahoofinancedatalake_spark.functions.scalars import dround

    got = bound(spark, SF_DIR, "top_flop_for_symbol", uid=7)
    events = load_table(spark, SF_DIR, "events").filter(
        F.col("user_id") == 7
    )
    daily = events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(dround(F.sum("value"), 2).alias("daily_value"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("day")
    want = daily.select(
        "user_id",
        "day",
        "daily_value",
        (F.col("daily_value") - F.lag("daily_value", 1).over(w)).alias(
            "delta"
        ),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_unknown_template_and_unbound_param_fail_loud(spark):
    with pytest.raises(KeyError, match="unknown serve template"):
        bound(spark, SF_DIR, "nope")
    # an unbound :param must fail at bind time, not scan everything
    with pytest.raises(TypeError, match="missing=\\['uid'\\]"):
        bound(spark, SF_DIR, "top_flop_for_symbol")
    # an extra/mistyped kwarg must fail too — silently ignoring it
    # means the caller believes a filter was applied that wasn't
    with pytest.raises(TypeError, match="unexpected=\\['uidd'\\]"):
        bound(spark, SF_DIR, "top_flop_for_symbol", uid=7, uidd=9)


def test_documents_template_binds_and_pushes(spark):
    df = bound(
        spark, SF_DIR, "source_quality_drill", src="src3", min_chars=50
    )
    plan = _plan(df)
    assert "EqualTo(source,src3)" in plan
    assert "GreaterThanOrEqual(n_chars,50)" in plan
    rows = df.collect()
    assert rows and all(r.n_docs > 0 for r in rows)
    # twin check against the direct DataFrame computation
    from yahoofinancedatalake_spark.catalog import load_table
    from yahoofinancedatalake_spark.functions.scalars import dround

    docs = load_table(spark, SF_DIR, "documents").filter(
        (F.col("source") == "src3") & (F.col("n_chars") >= 50)
    )
    want = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            dround(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))


def test_concurrent_bindings_stay_isolated(spark):
    """Dashboard-backend shape: concurrent bound() calls must each
    see exactly their own binding — pinned since the surface moved
    from a shared session-global temp view (create/analyze race) to
    per-call DataFrame interpolation."""
    import concurrent.futures as cf

    def drill(uid: int) -> set[int]:
        df = bound(spark, SF_DIR, "top_flop_for_symbol", uid=uid)
        return {r.user_id for r in df.select("user_id").collect()}

    uids = [0, 1, 2, 3, 7, 11, 13, 14]
    with cf.ThreadPoolExecutor(max_workers=len(uids)) as pool:
        got = list(pool.map(drill, uids))
    for uid, seen in zip(uids, got):
        assert seen <= {uid}, f"uid={uid} leaked rows from {seen}"


def test_exhaustive_binding_oracle_parity(spark):
    """Every symbol in the sf0.001 domain, Spark-bound template vs a
    DuckDB recomputation — catches binding-dependent parity drift
    (NULL-heavy days, single-row groups) that the two driver-gated
    bindings can't see."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    oracle = """
        WITH daily AS (
          SELECT user_id, date_trunc('day', ts) AS day,
                 floor((sum(value)) * 100 + 0.5 + 1e-6) / 100.0
                   AS daily_value
          FROM events WHERE user_id = ?
          GROUP BY user_id, date_trunc('day', ts)
        )
        SELECT user_id, day, daily_value,
               daily_value - lag(daily_value) OVER (
                 PARTITION BY user_id ORDER BY day) AS delta
        FROM daily ORDER BY day
    """
    uids = [
        r.user_id
        for r in bound(spark, SF_DIR, "top_flop_for_symbol", uid=-1)
        .sparkSession.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id").distinct().collect()
    ]
    assert len(uids) >= 10
    def norm(rows):
        # Spark date_trunc returns midnight TIMESTAMPs, DuckDB's
        # returns DATEs — same value, different repr (the driver's
        # _norm canonicalizes the same way)
        import datetime as dt

        out = []
        for r in rows:
            out.append(tuple(
                v.date() if isinstance(v, dt.datetime) else v for v in r
            ))
        return sorted(out)

    for uid in sorted(uids):
        got = norm(
            bound(
                spark, SF_DIR, "top_flop_for_symbol", uid=int(uid)
            ).collect()
        )
        want = norm(con.execute(oracle, [int(uid)]).fetchall())
        assert got == want, f"uid={uid}: spark={got[:2]} duckdb={want[:2]}"


EXAMPLES = {
    "top_flop_for_symbol": {"uid": 0},
    "type_window_daily": {
        "uid": 0,
        "etype": "view",
        "start_day": "2024-01-01",
        "end_day": "2024-01-02",
    },
    "source_quality_drill": {"src": "src0", "min_chars": 1},
}


def test_every_template_parses_with_example_bindings(spark):
    assert set(EXAMPLES) == set(TEMPLATES)
    for name, params in EXAMPLES.items():
        # schema resolution proves the template parses and binds
        assert len(bound(spark, SF_DIR, name, **params).columns) >= 3


def test_templates_build_without_jobs_or_range_sort(spark):
    """A request pays only for its own query: binding a template runs
    no Spark job (no schema inference), and its final ORDER BY sorts
    one partition, so the plan has no range exchange (whose sampling
    is a job of its own on every request)."""
    sc = spark.sparkContext
    for name, params in EXAMPLES.items():
        plan, n_jobs = jobs_in_group(
            sc,
            "serve_build_jobs",
            lambda: bound(spark, SF_DIR, name, **params)
            ._jdf.queryExecution().executedPlan().toString(),
        )
        assert n_jobs == 0, (name, n_jobs)
        assert "rangepartitioning" not in plan.lower(), plan
