"""Scale primitives and market/technical analytics (split from pack.py, r7 — pure refactor).

Registers 13 queries (registration order is the
import order in pack.py):
- ``salted_join_eq``
- ``upsert_rows_eq``
- ``ohlc_weekly``
- ``vwap_monthly``
- ``max_drawdown``
- ``bollinger_breakouts``
- ``rsi_14``
- ``ewma_smooth``
- ``zscore_anomalies``
- ``scd2_segments``
- ``event_transitions``
- ``pairwise_correlation``
- ``minhash_accuracy``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.queries._registry import _register, _scratch
from yahoofinancedatalake_spark.session import stage_boundary


# ---------------------------------------------------------------------------
# Extensions — scale primitives under the oracle gate
# ---------------------------------------------------------------------------


@_register(
    "salted_join_eq",
    """
    SELECT l.l_orderkey,
           l.l_linenumber,
           l.l_partkey AS partkey,
           p.p_name
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    doc="Skew-salted join under the ORACLE gate: salted_join splits "
    "each (potentially hot) part key over 8 deterministic salt "
    "buckets (xxhash64 of the row's unique (orderkey, linenumber) "
    "discriminator — no rand(), task retries re-execute "
    "identically) and replicates the part side 8x, and the result "
    "must hash-equal the plain SQL equi-join — salting is a "
    "physical-plan lever with ZERO semantic effect, now proven "
    "per-row rather than asserted in unit tests. At 100 TB this is "
    "the manual escape hatch when AQE's skew rule can't fire "
    "(shuffle-hash joins, skewed agg side).",
)
def q_salted_join_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.skew import salted_join  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_partkey").alias("partkey")
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_name"
    )
    return salted_join(
        li,
        part,
        on=["partkey"],
        n_salts=8,
        how="inner",
        salt_cols=["l_orderkey", "l_linenumber"],
    )


@_register(
    "upsert_rows_eq",
    """
    SELECT o_orderkey,
           o_custkey,
           o_totalprice,
           year(o_orderdate) AS yr
    FROM orders
    """,
    doc="Row-level keyed upsert under the ORACLE gate (S10, the ES "
    "_id = {symbol}_{date} analog, reference "
    "to_elasticsearch.py:78): a serving table is seeded with "
    "deliberately stale rows (o_totalprice = -1 for every 7th key), "
    "the correct rows are upserted by key, and the final on-disk "
    "table must hash-equal a plain SELECT of the source — proving "
    "replace-by-key semantics AND survivor preservation through the "
    "anti-join + touched-partition rewrite, at O(touched "
    "partitions) write cost (untouched year partitions are never "
    "read or rewritten).",
)
def q_upsert_rows_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.sources.parquet_io import (  # noqa: PLC0415
        upsert_rows,
        write_parquet,
    )

    orders = load_table(spark, sf_dir, "orders")
    full = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.year("o_orderdate").alias("yr"),
    )
    stale = full.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(-1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    updates = full.filter(F.col("o_orderkey") % 7 == 0)
    path = _scratch(spark).path("orders_serving")
    write_parquet(stale, path, partition_by=["yr"])
    upsert_rows(spark, updates, path, ["o_orderkey"], "yr")
    return spark.read.parquet(path).select(
        "o_orderkey", "o_custkey", "o_totalprice", F.col("yr").cast("bigint").alias("yr")
    )


# ---------------------------------------------------------------------------
# Extensions — market/technical analytics (round 5)
#
# The reference is a *finance* lake (daily OHLCV bars + indicators:
# arima_forecast.py computes rolling means; the Kibana dashboards chart
# price series, kibana_saved_objects.ndjson). This family adds the
# standard technical-analysis kit a finance engine is expected to ship
# — candlestick resampling, VWAP, drawdown, Bollinger bands, RSI,
# EWMA, z-score anomalies, cross-series correlation — each as one
# declarative window/agg plan over the synthetic tick stream
# (`events`, value as price) or `lineitem` (price × quantity).
# ---------------------------------------------------------------------------


@_register(
    "ohlc_weekly",
    """
    WITH t AS (
      SELECT event_type,
             date_trunc('week', ts) AS week,
             value, ts, event_id,
             row_number() OVER (PARTITION BY event_type, date_trunc('week', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('week', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, week,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_ticks
    FROM t GROUP BY 1, 2
    """,
    doc="OHLC candlestick resampling: tick stream → weekly bars "
    "(open = first by (ts, event_id), close = last, high/low/count). "
    "The reference stores daily OHLCV bars (yahoo_stocks.py:30-39); "
    "this is the downsample that produces coarser bars from finer "
    "ones. Plan: one shuffle on (type, week); both row_number passes "
    "and the final groupBy reuse the same hash partitioning, so the "
    "window sorts and the aggregation add no further exchange. "
    "Deterministic: first/last picked by total order (ts, event_id), "
    "no float summation anywhere — raw doubles pass through.",
)
def q_ohlc_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    wa = Window.partitionBy("event_type", "week").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "week").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("week", week)
        .withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("event_type", "week")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_ticks"),
        )
    )


@_register(
    "vwap_monthly",
    f"""
    SELECT l_returnflag,
           date_trunc('month', l_shipdate) AS ship_month,
           ({sql_dround("sum(l_extendedprice)", 2)})
             / ({sql_dround("sum(l_quantity)", 2)}) AS vwap,
           count(*) AS n_items
    FROM lineitem
    GROUP BY 1, 2
    """,
    doc="VWAP (volume-weighted average price): Σ(price·qty)/Σ(qty) "
    "per (flag, ship-month) — l_extendedprice is already the "
    "price-times-quantity extension. One hash aggregation with "
    "map-side partials; both sums dround'd before the quotient so "
    "the ratio is an exact IEEE op on bit-identical inputs.",
)
def q_vwap_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("ship_month")
    ).agg(
        (
            dround(F.sum("l_extendedprice"), 2) / dround(F.sum("l_quantity"), 2)
        ).alias("vwap"),
        F.count("*").alias("n_items"),
    )


@_register(
    "max_drawdown",
    f"""
    WITH t AS (
      SELECT event_type, value,
             max(value) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS run_max
      FROM events
    )
    SELECT event_type,
           {sql_dround("min(value / run_max - 1.0)", 6)} AS max_drawdown,
           max(value) AS peak,
           count(*) AS n
    FROM t GROUP BY 1
    """,
    doc="Maximum drawdown: running peak per series (value > 0 "
    "always), drawdown = value/peak − 1, min over the series — THE "
    "risk metric for a price series. One window (running max needs "
    "no frame recompute) + one aggregation on the same partitioning "
    "(no second exchange). min() is order-insensitive and the "
    "quotient runs on raw bit-identical doubles, so only the final "
    "value is dround'd.",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.withColumn("run_max", F.max("value").over(w))
        .groupBy("event_type")
        .agg(
            dround(
                F.min(F.col("value") / F.col("run_max") - F.lit(1.0)), 6
            ).alias("max_drawdown"),
            F.max("value").alias("peak"),
            F.count("*").alias("n"),
        )
    )


@_register(
    "bollinger_breakouts",
    f"""
    WITH t AS (
      SELECT event_type, value,
             row_number() OVER w AS rn,
             {sql_dround("sum(value) OVER w20", 2)} AS s1,
             {sql_dround("sum(value * value) OVER w20", 2)} AS s2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id),
             w20 AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), b AS (
      SELECT event_type, value,
             s1 / 20.0 AS mean,
             sqrt(greatest((s2 - s1 * s1 / 20.0) / 19.0, 0.0)) AS sd
      FROM t WHERE rn >= 20
    )
    SELECT event_type,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN value > mean + 2.0 * sd
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_breakout_up,
           CAST(sum(CASE WHEN value < mean - 2.0 * sd
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_breakout_down
    FROM b GROUP BY 1
    """,
    doc="Bollinger bands: 20-row rolling mean ± 2σ, count band "
    "breakouts per series. Variance from rolling SUM and SUM-of-"
    "squares (both dround'd: Spark recomputes sliding frames "
    "left-to-right while DuckDB uses a segment tree — different "
    "summation order, same 2-decimal lattice, so the de-knife-edged "
    "rounding makes them bit-identical); mean/σ/band edges are then "
    "exact IEEE arithmetic on identical inputs. One window sort, "
    "aggregation on the same keys.",
)
def q_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w20 = wn.rowsBetween(-19, 0)
    s1 = dround(F.sum("value").over(w20), 2)
    s2 = dround(F.sum(F.col("value") * F.col("value")).over(w20), 2)
    mean = F.col("s1") / F.lit(20.0)
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.lit(20.0)) / F.lit(19.0)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        events.select(
            "event_type",
            "value",
            F.row_number().over(wn).alias("rn"),
            s1.alias("s1"),
            s2.alias("s2"),
        )
        .filter(F.col("rn") >= 20)
        .select(
            "event_type",
            "value",
            mean.alias("mean"),
            sd.alias("sd"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(
                F.when(
                    F.col("value") > F.col("mean") + F.lit(2.0) * F.col("sd"), 1
                ).otherwise(0)
            ).alias("n_breakout_up"),
            F.sum(
                F.when(
                    F.col("value") < F.col("mean") - F.lit(2.0) * F.col("sd"), 1
                ).otherwise(0)
            ).alias("n_breakout_down"),
        )
    )


@_register(
    "rsi_14",
    f"""
    WITH d AS (
      SELECT event_type, ts, event_id,
             value - lag(value) OVER w AS diff,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), g AS (
      SELECT event_type, rn,
             {sql_dround(
                 "sum(CASE WHEN diff > 0 THEN diff ELSE 0.0 END) OVER w14", 2)}
               AS gain,
             {sql_dround(
                 "sum(CASE WHEN diff < 0 THEN -diff ELSE 0.0 END) OVER w14", 2)}
               AS loss
      FROM d
      WINDOW w14 AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), r AS (
      SELECT event_type,
             CASE WHEN gain + loss > 0.0
                  THEN 100.0 * gain / (gain + loss) ELSE 50.0 END AS rsi
      FROM g WHERE rn >= 15
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN rsi > 70.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overbought,
           CAST(sum(CASE WHEN rsi < 30.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oversold,
           {sql_dround("sum(rsi)", 4)} / count(*) AS avg_rsi
    FROM r GROUP BY 1
    """,
    doc="RSI(14) (Cutler's simple-average form): per-series lag "
    "diff → gain/loss split → 14-row rolling sums (dround'd — same "
    "sliding-frame summation-order argument as bollinger_breakouts) "
    "→ RSI = 100·gain/(gain+loss) on bit-identical inputs → "
    "overbought/oversold census per series. Two window passes over "
    "one partitioning, then an aggregation on the same keys.",
)
def q_rsi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w14 = wn.rowsBetween(-13, 0)
    diff = F.col("value") - F.lag("value").over(wn)
    d = events.select(
        "event_type",
        "ts",
        "event_id",
        diff.alias("diff"),
        F.row_number().over(wn).alias("rn"),
    )
    gain = dround(
        F.sum(
            F.when(F.col("diff") > 0, F.col("diff")).otherwise(F.lit(0.0))
        ).over(w14),
        2,
    )
    loss = dround(
        F.sum(
            F.when(F.col("diff") < 0, -F.col("diff")).otherwise(F.lit(0.0))
        ).over(w14),
        2,
    )
    rsi = F.when(
        F.col("gain") + F.col("loss") > 0,
        F.lit(100.0) * F.col("gain") / (F.col("gain") + F.col("loss")),
    ).otherwise(F.lit(50.0))
    return (
        d.select(
            "event_type", "rn", gain.alias("gain"), loss.alias("loss")
        )
        .filter(F.col("rn") >= 15)
        .select("event_type", rsi.alias("rsi"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("rsi") > 70.0, 1).otherwise(0)).alias(
                "n_overbought"
            ),
            F.sum(F.when(F.col("rsi") < 30.0, 1).otherwise(0)).alias(
                "n_oversold"
            ),
            (dround(F.sum("rsi"), 4) / F.count("*")).alias("avg_rsi"),
        )
    )


#: EWMA decay (span-ish 9): weight w^j on the j-th lag, 30-tap FIR cut.
_EWMA_W = 0.8
_EWMA_TAPS = 30


def _ewma_sql_terms() -> tuple[str, str]:
    num = ["value"]
    den = ["1.0"]
    for j in range(1, _EWMA_TAPS):
        wj = repr(_EWMA_W**j)
        num.append(f"{wj} * coalesce(lag(value, {j}) OVER w, 0.0)")
        den.append(
            f"CASE WHEN lag(value, {j}) OVER w IS NULL THEN 0.0 ELSE {wj} END"
        )
    return " + ".join(num), " + ".join(den)


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_sql_terms()


@_register(
    "ewma_smooth",
    f"""
    SELECT event_id, event_type, ts, value,
           {sql_dround(f"({_EWMA_NUM_SQL}) / ({_EWMA_DEN_SQL})", 6)} AS ewma
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    """,
    doc="EWMA price smoothing as a 30-tap FIR filter: "
    "ewma_t = Σ w^j·x_(t−j) / Σ w^j over available lags (w=0.8) — "
    "the truncated exponential moving average, renormalized at the "
    "series head. All 30 lags come out of ONE window sort; the "
    "weighted sum is a fixed left-associated expression tree of "
    "exact double literals over raw values, so both engines compute "
    "bit-identical results (no segment-tree summation here). "
    "Truncation error ≤ 0.8^30 ≈ 1.2e-3 relative — below the 1e-6 "
    "output rounding only when prices are O(1), hence the exact "
    "same 30-tap cut on both sides (it's part of the operator's "
    "definition, not an approximation of the oracle).",
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce  # noqa: PLC0415
    from operator import add  # noqa: PLC0415

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    wn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    num_terms = [F.col("value")]
    den_terms = [F.lit(1.0)]
    for j in range(1, _EWMA_TAPS):
        wj = _EWMA_W**j
        lagj = F.lag("value", j).over(wn)
        num_terms.append(F.lit(wj) * F.coalesce(lagj, F.lit(0.0)))
        den_terms.append(
            F.when(lagj.isNull(), F.lit(0.0)).otherwise(F.lit(wj))
        )
    ewma = reduce(add, num_terms) / reduce(add, den_terms)
    return events.select(
        "event_id", "event_type", "ts", "value", dround(ewma, 6).alias("ewma")
    )


@_register(
    "zscore_anomalies",
    f"""
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             {sql_dround("sum(value)", 2)} AS s1,
             {sql_dround("sum(value * value)", 2)} AS s2
      FROM events GROUP BY 1
    ), z AS (
      SELECT e.event_id, e.event_type, e.value,
             (e.value - s.s1 / s.n)
               / sqrt(greatest((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1), 0.0))
               AS zval
      FROM events e JOIN s USING (event_type)
    )
    SELECT event_id, event_type, value,
           {sql_dround("zval", 4)} AS z
    FROM z WHERE abs(zval) > 2.5
    """,
    doc="Z-score outlier detection: per-series mean/σ from ONE "
    "aggregation (sum + sum-of-squares, dround'd), broadcast back "
    "onto the stream, emit |z| > 2.5 rows — the anomaly-detection "
    "primitive for metric streams. The stats side is 5 rows → "
    "broadcast hash join, no second shuffle of the fact; z is exact "
    "IEEE arithmetic on identical inputs on both engines.",
)
def q_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dround(F.sum("value"), 2).alias("s1"),
        dround(F.sum(F.col("value") * F.col("value")), 2).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - F.lit(1)
    )
    z = (F.col("value") - mean) / F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("zval"),
        )
        .filter(F.abs(F.col("zval")) > 2.5)
        .select(
            "event_id", "event_type", "value", dround(F.col("zval"), 4).alias("z")
        )
    )


@_register(
    "scd2_segments",
    """
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
      SELECT user_id, event_type, ts
      FROM marked
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           event_type AS segment,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
    """,
    doc="SCD Type-2 history build: change-detection (drop rows equal "
    "to their predecessor) then effective ranges via lead() — "
    "valid_from/valid_to/is_current, the slowly-changing-dimension "
    "shape every lake serves. Two window passes over ONE hash "
    "partitioning on user_id (the second sort is over the already-"
    "filtered change rows); no joins. At 100 TB this is the "
    "standard merge-into-SCD2 read side; the write side is "
    "sources/parquet_io.py:upsert_rows.",
)
def q_scd2_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = marked.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return changes.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


@_register(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           n_transitions::DOUBLE
             / sum(n_transitions) OVER (PARTITION BY prev_type) AS pct
    FROM pairs
    """,
    doc="Markov transition matrix of user journeys: lag(event_type) "
    "per user → (prev, next) counts → row-normalized transition "
    "probabilities (exact bigint/bigint IEEE quotient, no rounding "
    "needed). One window sort on user_id, one aggregation, one "
    "window over the 25-row matrix. The behavioral-analytics "
    "companion to funnel_stages.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wt)
        ).alias("pct"),
    )


@_register(
    "pairwise_correlation",
    f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             {sql_dround("sum(value)", 2)} / count(*) AS v
      FROM events GROUP BY 1, 2
    ), j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.v AS x, b.v AS y
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
    ), sums AS (
      SELECT type_a, type_b, count(*) AS n,
             {sql_dround("sum(x)", 4)} AS sx,
             {sql_dround("sum(y)", 4)} AS sy,
             {sql_dround("sum(x * y)", 4)} AS sxy,
             {sql_dround("sum(x * x)", 4)} AS sxx,
             {sql_dround("sum(y * y)", 4)} AS syy
      FROM j GROUP BY 1, 2
    )
    SELECT type_a, type_b, n,
           {sql_dround(
               "(n * sxy - sx * sy)"
               " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
             AS corr
    FROM sums
    """,
    doc="Cross-series correlation matrix: daily mean per series "
    "(dround'd like date_bucket_avg), equi-join on day (type_a < "
    "type_b gives each unordered pair once), Pearson r from dround'd "
    "component sums (n, Σx, Σy, Σxy, Σx², Σy²) so the final formula "
    "is exact IEEE on bit-identical inputs. The co-movement signal "
    "behind pairs trading / portfolio risk. Plan: groupBy on "
    "(type, day) → join keyed on day (150 distinct days — broadcast-"
    "able) → 10-row aggregation; no window, no crossJoin.",
)
def q_pairwise_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg((dround(F.sum("value"), 2) / F.count("*")).alias("v"))
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("day").alias("day"),
        F.col("v").alias("x"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("v").alias("y"),
    )
    j = a.join(
        b,
        (F.col("day") == F.col("day_b")) & (F.col("type_a") < F.col("type_b")),
    )
    sums = j.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n"),
        dround(F.sum("x"), 4).alias("sx"),
        dround(F.sum("y"), 4).alias("sy"),
        dround(F.sum(F.col("x") * F.col("y")), 4).alias("sxy"),
        dround(F.sum(F.col("x") * F.col("x")), 4).alias("sxx"),
        dround(F.sum(F.col("y") * F.col("y")), 4).alias("syy"),
    )
    corr = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "type_a", "type_b", "n", dround(corr, 6).alias("corr")
    )


@_register(
    "minhash_accuracy",
    "SELECT 'minhash_jaccard_max_abs_err' AS metric, TRUE AS passed",
    doc="MinHash estimator accuracy as a correctness gate (the "
    "approximation-gate companion of ann_recall/ivf_recall, for the "
    "dedup ladder): on the LSH candidate pairs whose EXACT hashed-"
    "shingle Jaccard is ≥ 0.9, the MEAN absolute error of the "
    "signature estimate (matching-component fraction, k=32) must be "
    "≤ 0.08, and at least one such pair must exist. For J ≈ 0.9-1.0 "
    "the per-pair binomial se = sqrt(J(1-J)/32) ≤ 0.053 gives "
    "E|err| ≈ 0.8·se ≈ 0.04, so 0.08 is ~2× the expected value — "
    "and, unlike a max-err gate, the mean CONCENTRATES as the pair "
    "count grows with scale (a max over N pairs is a 3σ+ order "
    "statistic that must eventually fail at some N: measured, the "
    "worst sf0.1 pair sits at 3.8σ while the mean is ~0.04 at every "
    "SF). A broken hash family or banding regression pushes the "
    "mean toward ~0.5 and fails "
    "the driver's hash check instead of silently shifting dedup "
    "output. Fully distributed: the pairs come from the engine's "
    "one verified-pair operator (operators/dedup."
    "verified_near_dup_pairs), signatures ride the pair join; one "
    "final 1-row aggregation. The candidate set (~0.1%% of all "
    "pairs) is materialized and every exact-verify scan (gram "
    "hashes, signatures) runs over a broadcast semi-join onto "
    "touched docs only — the full corpus is shingled exactly once, "
    "inside the LSH pass. At 100 TB the verify side touches only "
    "near-dup docs.",
    parts=8,
)
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import (
        minhash_signature,
        pair_docs,
        verified_near_dup_pairs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # read twice: for the touched docs and for the scored join
    pairs = stage_boundary(verified_near_dup_pairs(docs, "doc_id"))
    sigs = pair_docs(pairs, docs, "doc_id").select(
        F.col("doc_id"),
        minhash_signature(F.col("text"), 32, 42, 3).alias("sig"),
    ).filter(F.col("sig").isNotNull())
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(32.0)
    )
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select((F.abs(est - F.col("jaccard"))).alias("err"))
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.avg("err").alias("mean_err")
    ).select(
        F.lit("minhash_jaccard_max_abs_err").alias("metric"),
        (
            (F.col("n_pairs") >= 1) & (F.col("mean_err") <= 0.08)
        ).alias("passed"),
    )


