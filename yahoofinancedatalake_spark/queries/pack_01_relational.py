"""Relational core: scans, joins, aggregates, windows, top-k, ETL (split from pack.py, r7 — pure refactor).

Registers 24 queries (registration order is the
import order in pack.py):
- ``group_agg_count_max``
- ``enrich_join``
- ``range_filter_scan``
- ``derived_projection``
- ``scalar_kit``
- ``last_value_per_group``
- ``daily_lag_returns``
- ``top_flop``
- ``topk_other_bucket``
- ``distinct_count_per_day``
- ``approx_distinct_per_day``
- ``dq_violations``
- ``hll_partial_rollup``
- ``bitmap_distinct_rollup``
- ``sort_limit_feed``
- ``union_split``
- ``date_bucket_avg``
- ``etl_gold_contract``
- ``rolling_mean_30``
- ``pricing_summary``
- ``min_per_group``
- ``exists_filter``
- ``negated_range``
- ``text_contains``
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.operators.windows import lag_delta, last_row_per_group, top_k, top_k_with_other
from yahoofinancedatalake_spark.queries._registry import (
    _register,
)


# ---------------------------------------------------------------------------
# A1 — hash group-by with count + max (news_agg, combine_sources.py:71-77)
# ---------------------------------------------------------------------------


@_register(
    "group_agg_count_max",
    """
    SELECT user_id,
           count(*) AS n_events,
           max(ts) AS latest_ts
    FROM events
    GROUP BY user_id
    """,
    doc="A1: groupBy(key).agg(count, max) — the news_agg shape.",
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.max("ts").alias("latest_ts")
    )


# ---------------------------------------------------------------------------
# J1/J2 — broadcast left equi-joins fact×dim×dim (combine_sources.py:80-91)
# ---------------------------------------------------------------------------


@_register(
    "enrich_join",
    """
    SELECT o.o_orderkey,
           o.o_orderdate,
           o.o_totalprice,
           c.c_name,
           c.c_mktsegment,
           n.n_name AS nation_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    doc="J1/J2: fact LEFT JOIN two broadcast dims — stocks⋈company⋈news_agg.",
)
def q_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
        )
    )


# ---------------------------------------------------------------------------
# P4 — range predicate pushed to the scan (format_to_parquet.py:141)
# ---------------------------------------------------------------------------


@_register(
    "range_filter_scan",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
    doc="P4: range filter on the scan (news >= 2020-01-01 analog); "
    "Catalyst pushes it to parquet row groups.",
)
def q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


# ---------------------------------------------------------------------------
# P7 — derived-column projection (combine_sources.py:94-98)
# ---------------------------------------------------------------------------


@_register(
    "derived_projection",
    f"""
    SELECT l_orderkey,
           l_linenumber,
           {sql_dround("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
           {sql_dround("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)}
             AS charge
    FROM lineitem
    """,
    doc="P7: arithmetic derived columns — daily_range/daily_change_pct "
    "analog. Rounded at the true decimal scale (2+2 and 2+2+2 digits).",
)
def q_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(revenue, 4).alias("revenue"),
        dround(revenue * (1 + F.col("l_tax")), 6).alias("charge"),
    )


# ---------------------------------------------------------------------------
# F1/F2/F4/F6/F9 — the scalar function kit, oracle-checked in one query
# ---------------------------------------------------------------------------


@_register(
    "scalar_kit",
    """
    WITH e AS (
      SELECT event_id, ts, event_type,
             (date_trunc('day', ts))::DATE AS day
      FROM events WHERE event_id < 100
    ), b AS (
      SELECT *,
             list_filter([day + i::INT FOR i IN range(1, 15)],
                         d -> isodow(d) <= 5)[1:5] AS bdays
      FROM e
    )
    SELECT event_id,
           strftime(ts, '%Y-%m-%d') AS iso_day,
           strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso_instant,
           make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000)
             AS ts_roundtrip,
           concat(event_type, '. ', strftime(ts, '%Y-%m-%d')) AS tagline,
           bdays[1] AS bday_1, bdays[3] AS bday_3, bdays[5] AS bday_5
    FROM b
    """,
    doc="F1/F2/F4/F6/F9 in one oracle-checked projection: ISO date and "
    "instant formatting (yahoo_stocks.py:32, to_elasticsearch.py:96-98), "
    "epoch-seconds round-trip through timestamp_seconds "
    "(finnhub_news.py:91-92), string concat (finnhub_news.py:98), and the "
    "pd.date_range(freq='B') business-day generator "
    "(arima_forecast.py:71-73) — all pure codegen expressions, no UDF.",
)
def q_scalar_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.functions.scalars import (  # noqa: PLC0415
        business_days,
        day_bucket,
        epoch_to_utc_ts,
        iso_date,
        iso_instant,
    )

    events = load_table(spark, sf_dir, "events")
    e = events.filter(F.col("event_id") < 100)
    day = F.to_date(day_bucket(F.col("ts")))
    bdays = business_days(day, 5)
    return e.select(
        "event_id",
        iso_date("ts").alias("iso_day"),
        iso_instant("ts").alias("iso_instant"),
        epoch_to_utc_ts(F.unix_timestamp(F.col("ts"))).alias("ts_roundtrip"),
        F.concat_ws(". ", F.col("event_type"), iso_date("ts")).alias("tagline"),
        F.element_at(bdays, 1).alias("bday_1"),
        F.element_at(bdays, 3).alias("bday_3"),
        F.element_at(bdays, 5).alias("bday_5"),
    )


# ---------------------------------------------------------------------------
# W1 — last value per group (Kibana "Last value", kibana_saved_objects:6,9)
# ---------------------------------------------------------------------------


@_register(
    "last_value_per_group",
    """
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, row_number() OVER (
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      QUALIFY row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    )
    """,
    doc="W1: latest row per group by time, deterministic tiebreak on id.",
)
def q_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    latest = last_row_per_group(
        events, ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    return latest.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# W2/W3 — lag differences + percent return (Kibana export (1).ndjson:4)
# ---------------------------------------------------------------------------

_DAILY_CTE = f"""
    WITH daily AS (
      SELECT user_id,
             date_trunc('day', ts) AS day,
             {sql_dround("sum(value)", 2)} AS daily_value
      FROM events
      GROUP BY user_id, date_trunc('day', ts)
    )
"""


def _daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared first stage: per-(user, day) value sum, dround(2).

    ``value`` carries 2 decimals, so the sum's true value sits on the
    centi-grid — dround lands both engines in the same bin and the
    outputs are bit-identical doubles downstream.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(dround(F.sum("value"), 2).alias("daily_value"))


@_register(
    "daily_lag_returns",
    _DAILY_CTE
    + """
    SELECT user_id, day, daily_value,
           daily_value - lag(daily_value) OVER w AS delta,
           (daily_value - lag(daily_value) OVER w)
                 / nullif(lag(daily_value) OVER w, 0) * 100 AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day)
    """,
    doc="W2/W3: day-over-day differences and percent return per group — "
    "the Lens differences/shift formula. delta/pct are exact IEEE ops "
    "on bit-identical rounded inputs; no further rounding needed.",
)
def q_lag_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_values(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("daily_value", 1).over(w)
    return daily.select(
        "user_id",
        "day",
        "daily_value",
        (F.col("daily_value") - prev).alias("delta"),
        (
            (F.col("daily_value") - prev) / F.nullif(prev, F.lit(0)) * 100
        ).alias("pct_change"),
    )


# ---------------------------------------------------------------------------
# W1+W2+W4/O2 — the flagship Top/Flop query (kibana_saved_objects.ndjson:6):
# per group, latest day-over-day delta; rank groups, keep top 10.
# ---------------------------------------------------------------------------


@_register(
    "top_flop",
    _DAILY_CTE
    + """
    , deltas AS (
      SELECT user_id, day, daily_value,
             daily_value - lag(daily_value) OVER (
               PARTITION BY user_id ORDER BY day) AS delta
      FROM daily
    ), latest AS (
      SELECT user_id, day AS last_day, daily_value AS last_value, delta
      FROM deltas
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY day DESC) = 1
    )
    SELECT user_id, last_day, last_value, delta
    FROM latest
    ORDER BY delta DESC NULLS LAST, user_id ASC
    LIMIT 10
    """,
    doc="Flagship Top/Flop: last_value of the daily delta per group, "
    "top-10 by that metric (Lens terms ordered by last_value of "
    "daily_change_pct, size 10).",
)
def q_top_flop(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_values(spark, sf_dir)
    deltas = lag_delta(
        daily, ["user_id"], "day", "daily_value", delta_name="delta",
        pct_name=None,
    )
    latest = last_row_per_group(deltas, ["user_id"], "day").select(
        "user_id",
        F.col("day").alias("last_day"),
        F.col("daily_value").alias("last_value"),
        "delta",
    )
    return top_k(latest, "delta", 10, tiebreak_cols=["user_id"])


# ---------------------------------------------------------------------------
# O2 — top-k terms with ES "Other" bucket (kibana_saved_objects.ndjson:7-9)
# ---------------------------------------------------------------------------


@_register(
    "topk_other_bucket",
    f"""
    WITH agged AS (
      SELECT o_orderpriority,
             {sql_dround("sum(o_totalprice)", 2)} AS total_price
      FROM orders
      GROUP BY o_orderpriority
    ), ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY total_price DESC, o_orderpriority ASC) AS rnk
      FROM agged
    )
    SELECT CASE WHEN rnk <= 3 THEN o_orderpriority ELSE 'Other' END
             AS o_orderpriority,
           {sql_dround("sum(total_price)", 2)} AS total_price
    FROM ranked
    GROUP BY 1
    """,
    doc="O2: terms(size=3, otherBucket=true) — treemap/donut Other bucket.",
)
def q_topk_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = top_k_with_other(
        orders,
        "o_orderpriority",
        dround(F.sum("o_totalprice"), 2),
        "total_price",
        k=3,
    )
    return out.select(
        "o_orderpriority", dround("total_price", 2).alias("total_price")
    )


# ---------------------------------------------------------------------------
# A6 — distinct count per day bucket (Kibana "Buzz médiatique")
# ---------------------------------------------------------------------------


@_register(
    "distinct_count_per_day",
    """
    SELECT date_trunc('day', l_shipdate) AS ship_day,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY 1
    """,
    doc="A6: exact distinct count per time bucket (unique_count analog).",
)
def q_distinct_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.date_trunc("day", "l_shipdate").alias("ship_day")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@_register(
    "approx_distinct_per_day",
    """
    SELECT date_trunc('day', l_shipdate) AS ship_day,
           count(DISTINCT l_partkey) AS n_parts,
           TRUE AS within_bounds
    FROM lineitem
    GROUP BY 1
    """,
    doc="A6 (approximate): approx_count_distinct — the faithful mapping of "
    "ES cardinality (HLL). The sketch estimate itself has no exact "
    "cross-engine oracle, so the checked contract is the HLL++ error "
    "bound: per bucket, |estimate − exact| ≤ 3·rsd·exact + 6 "
    "(rsd=0.02; 3σ of the advertised relative standard deviation, "
    "plus a small absolute slack because Spark's HLL++ has no "
    "sparse/exact regime at tiny cardinalities). The oracle asserts "
    "the bound boolean AND the exact count, so an estimator "
    "regression fails the hash, not just an eyeball.",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    rsd = 0.02
    li = load_table(spark, sf_dir, "lineitem")
    # Dedup (day, partkey) FIRST, then run BOTH aggregates over the
    # distinct pairs: the HLL sketch only depends on the distinct
    # value set, so the estimate is identical — but this avoids the
    # Expand operator Spark plans when countDistinct and
    # approx_count_distinct share one aggregate (which doubles the
    # shuffled rows; measured 5.3 s -> ~1 s at sf0.1).
    pairs = li.select(
        F.date_trunc("day", "l_shipdate").alias("ship_day"), "l_partkey"
    ).distinct()
    return (
        pairs.groupBy("ship_day")
        .agg(
            F.approx_count_distinct("l_partkey", rsd).alias("est"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .select(
            "ship_day",
            "n_parts",
            # 3·rsd relative term + a small absolute slack: Spark's
            # HLL++ is dense-register only (no sparse/exact regime for
            # tiny cardinalities), so per-bucket counts of ~20 can be
            # off by a few even with a fine sketch (measured max |err|
            # = 3 at rsd=0.02 on this data; slack = 2× that). At real
            # bucket cardinalities the relative term dominates.
            (
                F.abs(F.col("est") - F.col("n_parts"))
                <= F.lit(3 * rsd) * F.col("n_parts") + F.lit(6)
            ).alias("within_bounds"),
        )
    )


_DQ_SQL_RULES = [
    ("not_null_l_orderkey", "l_orderkey IS NOT NULL"),
    ("range_l_discount",
     "l_discount IS NOT NULL AND l_discount >= 0.0 AND l_discount <= 0.1"),
    ("range_l_quantity",
     "l_quantity IS NOT NULL AND l_quantity >= 1 AND l_quantity <= 50"),
    ("one_of_l_returnflag",
     "l_returnflag IS NOT NULL AND l_returnflag IN ('A', 'N', 'R')"),
]


@_register(
    "dq_violations",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS rule,
           count(*) AS n_rows,
           count(*) FILTER (WHERE NOT ({ok})) AS n_violations,
           count(*) FILTER (WHERE NOT ({ok}))::DOUBLE / count(*)
             AS violation_rate
    FROM lineitem
    """
        for name, ok in _DQ_SQL_RULES
    ),
    doc="Data-quality gate: a declarative rule suite (not-null, "
    "ranges, domain membership) compiled into ONE aggregation pass — "
    "each rule is a count_if conditional aggregate, so a 100-rule "
    "suite over 100 TB costs one scan with map-side partials, not one "
    "scan per rule (operators/quality.py). The reference only "
    "sanitizes nulls ad hoc at indexing time "
    "(to_elasticsearch.py:83-109).",
)
def q_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.quality import (
        check,
        in_range,
        not_null,
        one_of,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return check(
        li,
        [
            not_null("l_orderkey"),
            in_range("l_discount", 0.0, 0.1),
            in_range("l_quantity", 1, 50),
            one_of("l_returnflag", ["A", "N", "R"]),
        ],
    )


@_register(
    "hll_partial_rollup",
    """
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           count(DISTINCT l_partkey) AS distinct_parts_exact,
           TRUE AS hll_ok
    FROM lineitem GROUP BY 1
    ORDER BY 1
    """,
    doc="Mergeable-sketch pre-aggregation (the 100 TB dashboard "
    "pattern): per-DAY datasketches HLL sketches of the part key, "
    "unioned up to month level, then estimated — distinct-count "
    "rollups become partial-aggregable, so the daily sketch table is "
    "computed once and every coarser bucket is a cheap union instead "
    "of a re-scan (exact count-distinct cannot merge). Gated the way "
    "every approximation in the pack is: the merged estimate must sit "
    "within ±1.5% + 6 of the exact month distinct (lgK=16 RSE "
    "≈0.4%, so the bound is ≳3σ) — NOT exact equality, which held at "
    "sf0.01 only because the sketch was still in its exact "
    "small-cardinality mode and silently broke one scale factor up "
    "(caught by the sf0.1 parity sweep; the exact count rides along "
    "as the hash-pinned value).",
)
def q_hll_partial_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # One scan + one dedup exchange feeds BOTH the sketch ladder and
    # the exact gate: (month, day, part) pairs are deduped once, the
    # daily sketches aggregate the deduped pairs (HLL is duplicate-
    # insensitive, so sketching pairs == sketching raw rows), and the
    # exact month distinct re-aggregates the same pairs (partial-agg
    # over ~|distinct| rows, not the raw table — the r4 version's
    # second full countDistinct scan doubled the query's cost). The
    # two branches share the dedup exchange byte-for-byte, so AQE
    # plans it as a ReusedExchange: the lineitem scan runs once.
    pairs = li.select(
        F.date_trunc("month", "l_shipdate").alias("ship_month"),
        F.date_trunc("day", "l_shipdate").alias("ship_day"),
        "l_partkey",
    ).distinct()
    daily = pairs.groupBy("ship_month", "ship_day").agg(
        F.hll_sketch_agg("l_partkey", F.lit(16)).alias("sk")
    )
    merged = daily.groupBy("ship_month").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = pairs.groupBy("ship_month").agg(
        F.countDistinct("l_partkey").alias("distinct_parts_exact")
    )
    return (
        exact.join(merged, "ship_month")
        .select(
            "ship_month",
            "distinct_parts_exact",
            (
                F.abs(F.col("est") - F.col("distinct_parts_exact"))
                <= 0.015 * F.col("distinct_parts_exact") + 6
            ).alias("hll_ok"),
        )
        .orderBy("ship_month")
    )


@_register(
    "bitmap_distinct_rollup",
    """
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    doc="EXACT mergeable distinct rollup — the exactness-preserving "
    "sibling of hll_partial_rollup, same 100 TB dashboard pattern: "
    "plain count(DISTINCT) cannot partial-aggregate (re-scan per "
    "granularity), but Spark 4's bitmap family can — per (month, "
    "day, 32k-bucket) roaring-style bitmaps (bitmap_construct_agg "
    "of bitmap_bit_position), OR-merged up to month level "
    "(bitmap_or_agg), then summed bitmap_count == the exact "
    "distinct, hash-pinned against count(DISTINCT) — no error "
    "bound needed, unlike the HLL twin. The daily bitmap table is "
    "computed once; every coarser bucket is a cheap bitwise OR. "
    "Trade vs HLL: bitmaps are exact but sized O(distinct/8 bytes) "
    "per bucket — right when keys are dense ints (TPC-H part keys); "
    "HLL wins on sparse 64-bit ids.",
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.select(
        F.date_trunc("month", "l_shipdate").alias("ship_month"),
        F.date_trunc("day", "l_shipdate").alias("ship_day"),
        "l_partkey",
    ).createOrReplaceTempView("__bm_li")
    # the bitmap agg family is SQL-only surface in Spark 4
    return spark.sql(
        """
        WITH daily AS (
          SELECT ship_month, ship_day,
                 bitmap_bucket_number(l_partkey) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(l_partkey))
                   AS bm
          FROM __bm_li
          GROUP BY ship_month, ship_day, bkt
        ),
        monthly AS (
          SELECT ship_month, bkt, bitmap_or_agg(bm) AS bm
          FROM daily GROUP BY ship_month, bkt
        )
        SELECT ship_month,
               CAST(sum(bitmap_count(bm)) AS BIGINT) AS distinct_parts
        FROM monthly GROUP BY ship_month ORDER BY ship_month
        """
    )


# ---------------------------------------------------------------------------
# O1 — multi-key desc sort + limit feed (saved search, kibana_saved_objects:5)
# ---------------------------------------------------------------------------


@_register(
    "sort_limit_feed",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 50
    """,
    doc="O1: latest-news-feed sort/limit, 6-column projection, "
    "deterministic tiebreak.",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# U1 — unionByName (arima_forecast.py:99,150 actual ∪ forecast)
# ---------------------------------------------------------------------------


@_register(
    "union_split",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'finished' AS bucket
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'open' AS bucket
    FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="U1: vertical union of two labeled branches (actual ∪ forecast shape).",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit("finished").alias("bucket")
    )
    open_ = orders.filter(F.col("o_orderstatus") == "O").select(
        F.lit("open").alias("bucket"), "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return finished.unionByName(open_)


# ---------------------------------------------------------------------------
# A5/F5 — time-bucketed average (Kibana trend panels)
# ---------------------------------------------------------------------------


@_register(
    "date_bucket_avg",
    f"""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           {sql_dround("sum(value)", 2)} / count(*) AS avg_value,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    doc="A5/F5: date_trunc bucket × term bucket → average metric. The "
    "average is dround(sum)/count: the rounded sum is bit-identical "
    "across engines, so the quotient is too — avg() of doubles is "
    "order-sensitive and can land on either side of any rounding bin.",
)
def q_bucket_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        (dround(F.sum("value"), 2) / F.count("*")).alias("avg_value"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# S1+P1-P4+A1+J1/J2+P6/P7 — the full bronze→silver→gold ETL, end to end
# over reference-shaped JSONL fixtures (driver-oracle-checked)
# ---------------------------------------------------------------------------

#: the checkout's bronze fixtures, resolved from this file
_BRONZE = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "bronze")


@_register(
    "etl_gold_contract",
    f"""
    WITH stocks AS (
      SELECT symbol,
             CAST(date AS DATE) AS date,
             open, high, low, close, volume,
             CAST(fetched_at AS TIMESTAMP) AS fetched_at_utc
      FROM read_json('{_BRONZE}/stocks.jsonl',
                     format='newline_delimited',
                     columns={{'symbol':'VARCHAR','date':'VARCHAR',
                              'open':'DOUBLE','high':'DOUBLE',
                              'low':'DOUBLE','close':'DOUBLE',
                              'volume':'BIGINT','fetched_at':'VARCHAR'}})
    ),
    company AS (
      SELECT symbol, name, sector, industry, market_cap
      FROM read_json('{_BRONZE}/company_info.jsonl',
                     format='newline_delimited',
                     columns={{'symbol':'VARCHAR','name':'VARCHAR',
                              'sector':'VARCHAR','industry':'VARCHAR',
                              'country':'VARCHAR','market_cap':'BIGINT',
                              'currency':'VARCHAR','fetched_at':'VARCHAR'}})
    ),
    news AS (  -- dedup by id: clones agree on (id, symbol, pub_date)
      SELECT DISTINCT id, symbol, CAST(pub_date AS TIMESTAMP) AS pub_date_utc
      FROM read_json('{_BRONZE}/news.jsonl',
                     format='newline_delimited',
                     columns={{'id':'VARCHAR','symbol':'VARCHAR',
                              'pub_date':'VARCHAR'}})
      WHERE CAST(pub_date AS TIMESTAMP) >= TIMESTAMP '2020-01-01'
    ),
    news_agg AS (
      SELECT symbol, count(*) AS news_count,
             max(pub_date_utc) AS latest_news_date
      FROM news GROUP BY symbol
    )
    SELECT s.symbol, c.name, c.sector, c.industry, s.date,
           s.open, s.high, s.low, s.close, s.volume, c.market_cap,
           s.high - s.low AS daily_range,
           CASE WHEN s.open <> 0
                THEN (s.close - s.open) / s.open * 100 END AS daily_change_pct,
           n.news_count, n.latest_news_date, s.fetched_at_utc
    FROM stocks s
    LEFT JOIN company c USING (symbol)
    LEFT JOIN news_agg n USING (symbol)
    """,
    doc="The reference's whole relational pipeline as ONE checked query: "
    "schema-enforced JSONL scan (S1) of reference-shaped bronze "
    "fixtures → typed casts + UTC parse + date normalization (P1-P3) "
    "→ >=2020 range filter + dedup-by-id (P4/S11) → per-symbol news "
    "rollup (A1) → two broadcast left joins + derived metrics + the "
    "16-column gold contract (J1/J2, P6/P7 — combine_sources.py:"
    "101-118). Planted edges: JPM has no dim row, WMT no news (left-"
    "join null survival), pre-2020 artifacts dropped, duplicate ids "
    "collapsed.",
)
def q_etl_gold_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.etl import (
        aggregate_news,
        combine,
        format_company,
        format_news,
        format_stocks,
    )
    from yahoofinancedatalake_spark.schemas import (
        COMPANY_RAW,
        NEWS_RAW,
        STOCKS_RAW,
    )
    from yahoofinancedatalake_spark.sources.json_source import read_jsonl

    stocks = format_stocks(read_jsonl(spark, f"{_BRONZE}/stocks.jsonl", STOCKS_RAW))
    company = format_company(
        read_jsonl(spark, f"{_BRONZE}/company_info.jsonl", COMPANY_RAW)
    )
    news = format_news(read_jsonl(spark, f"{_BRONZE}/news.jsonl", NEWS_RAW))
    return combine(stocks, company, aggregate_news(news))


# ---------------------------------------------------------------------------
# A3 — trailing rolling mean over a rows frame (arima_forecast.py:61-63)
# ---------------------------------------------------------------------------


@_register(
    "rolling_mean_30",
    f"""
    WITH daily AS (
      SELECT user_id,
             date_trunc('day', ts) AS day,
             {sql_dround("sum(value)", 2)} / count(*) AS v
      FROM events
      GROUP BY 1, 2
    )
    SELECT user_id,
           day,
           v,
           {sql_dround("sum(v) OVER w", 4)} / count(v) OVER w
             AS rolling_avg_30
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
    doc="A3: trailing 30-row mean via ROWS BETWEEN 29 PRECEDING AND "
    "CURRENT ROW — the reference's 'average recent sentiment (last 30 "
    "days)' (arima_forecast.py:61-63) as a window, one shuffle on the "
    "group key. dround(sum)/count on BOTH engines: sliding-window sum "
    "accumulation order differs between Spark and DuckDB, the rounded "
    "numerator pins the quotient.",
)
def q_rolling_mean_30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.windows import rolling_mean

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg((dround(F.sum("value"), 2) / F.count("*")).alias("v"))
    return rolling_mean(
        daily,
        ["user_id"],
        "day",
        "v",
        n_rows=30,
        out_col="rolling_avg_30",
        deterministic_round=4,
    )


# ---------------------------------------------------------------------------
# A1 (multi-agg) — pricing summary, the classic scan→agg shape
# ---------------------------------------------------------------------------


@_register(
    "pricing_summary",
    f"""
    SELECT l_returnflag,
           l_linestatus,
           sum(l_quantity) AS sum_qty,
           {sql_dround("sum(l_extendedprice)", 2)} AS sum_base_price,
           {sql_dround("sum(l_extendedprice * (1 - l_discount))", 4)}
             AS sum_disc_price,
           sum(l_quantity) / count(*) AS avg_qty,
           {sql_dround("sum(l_discount)", 2)} / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1 multi-agg over a pushed-down range filter (TPC-H Q1 shape). "
    "sum_qty is exact (integral doubles); money sums dround-ed at their "
    "true decimal scale; averages are exact-or-rounded-sum / count so "
    "both engines divide bit-identical numerators.",
)
def q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            (dround(F.sum("l_discount"), 2) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A7 — min per bucket (Kibana "Actualité du cours" min(pub_date_utc))
# ---------------------------------------------------------------------------


@_register(
    "min_per_group",
    """
    SELECT event_type, min(ts) AS first_ts, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="A7: min timestamp per term bucket.",
)
def q_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.min("ts").alias("first_ts"), F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# P10 — exists / not-null predicate (Kibana exists filter)
# ---------------------------------------------------------------------------


@_register(
    "exists_filter",
    """
    SELECT lang, count(*) AS n_docs
    FROM documents
    WHERE text IS NOT NULL AND n_chars >= 200
    GROUP BY lang
    """,
    doc="P10: exists(field) + threshold filter, then bucket count.",
)
def q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("n_chars") >= 200))
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n_docs")
    )


# ---------------------------------------------------------------------------
# P11 — negated range predicate (Kibana negate:true range filter)
# ---------------------------------------------------------------------------


@_register(
    "negated_range",
    """
    SELECT event_type, count(*) AS n
    FROM events
    WHERE ts NOT BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                     AND TIMESTAMP '2024-01-20 23:59:59'
    GROUP BY event_type
    """,
    doc="P11: NOT BETWEEN time-range filter, then bucket count.",
)
def q_negated_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-20 23:59:59").cast("timestamp")
    return (
        events.filter(~F.col("ts").between(lo, hi))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# P12 — full-text-ish containment (ES text fields / KQL bar)
# ---------------------------------------------------------------------------


@_register(
    "text_contains",
    """
    SELECT source, count(*) AS n_matching
    FROM documents
    WHERE text LIKE '%spark%'
    GROUP BY source
    """,
    doc="P12: substring containment as the SQL-core stand-in for full-text "
    "search (scoring/relevance documented as out of scope).",
)
def q_text_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").contains("spark"))
        .groupBy("source")
        .agg(F.count("*").alias("n_matching"))
    )


