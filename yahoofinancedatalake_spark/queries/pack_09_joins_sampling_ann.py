"""Multi-way TPC-H joins, corpus sampling, PQ ANN, semi-joins (split from pack.py, r7 — pure refactor).

Registers 27 queries (registration order is the
import order in pack.py):
- ``segment_top_orders``
- ``region_nation_revenue``
- ``temperature_sampling``
- ``group_topk_sample``
- ``pq_topk``
- ``pq_recall``
- ``late_shipment_priority``
- ``nation_market_share``
- ``customer_order_distribution``
- ``running_revenue_by_customer``
- ``order_deciles_yearly``
- ``top_lineitem_per_order``
- ``ivfpq_topk``
- ``ivfpq_recall``
- ``stream_enrich_batch_eq``
- ``training_order_shard``
- ``doc_keywords``
- ``period_reconcile_full_outer``
- ``rolling_correlation_14d``
- ``mad_anomalies``
- ``cms_heavy_hitters``
- ``sentiment_distribution``
- ``array_hof_kit``
- ``variant_shred_agg``
- ``simhash_accuracy``
- ``media_audio_features``
- ``dedup_clusters_star``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.functions.sentiment import NEGATIVE_WORDS, POSITIVE_WORDS, SCALE, sentiment_score_expr
from yahoofinancedatalake_spark.queries._registry import (
    QUERIES,
    Query,
    _const_key,
    _register,
    _scratch,
)
from yahoofinancedatalake_spark.queries.pack_02_text import (
    _sql_wordlist,
)
from yahoofinancedatalake_spark.queries.pack_05_forecast_search import (
    _ann_queries,
    _recall_gate,
)
from yahoofinancedatalake_spark.session import stage_boundary


# ---------------------------------------------------------------------------
# Multi-way analytic joins — the TPC-H Q3/Q5 shapes (J1/J2 stretched to
# the plans Catalyst must reorder + broadcast at 100 TB)
# ---------------------------------------------------------------------------


@_register(
    "segment_top_orders",
    f"""
    SELECT o.o_orderkey,
           o.o_orderdate,
           {sql_dround("sum(l.l_extendedprice * (1 - l.l_discount))", 4)}
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping-priority): 3-way selective join "
    "customer⋈orders⋈lineitem with filters on all three tables, "
    "grouped revenue, total-order top-10. The scale contract: both "
    "dimension-side filters are pushed into the scans, the filtered "
    "customer side broadcasts (plan-tested), the only wide exchange "
    "is the (orderkey) aggregation, and the top-10 is "
    "TakeOrderedAndProject — never a global sort of the aggregate. "
    "Revenue dround-ed at its true decimal scale (4), so "
    "summation-order noise cannot flip a rank "
    "(same convention as pricing_summary).",
)
def q_segment_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-07-01").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    agg = (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return agg.orderBy(
        F.col("revenue").desc(), F.col("o_orderkey").asc()
    ).limit(10)


@_register(
    "region_nation_revenue",
    f"""
    SELECT n.n_name,
           {sql_dround("sum(l.l_extendedprice * (1 - l.l_discount))", 4)}
             AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    doc="TPC-H Q5 shape (local-supplier volume): 6-way join "
    "lineitem⋈orders⋈customer⋈supplier⋈nation⋈region with the "
    "correlated s_nationkey = c_nationkey condition and a pushed "
    "one-year o_orderdate range. The 100 TB plan: region/nation/"
    "supplier/customer all broadcast (plan-tested — the only "
    "shuffle-heavy side is the fact lineitem⋈orders equi-join), "
    "region filter prunes 4/5 of nations BEFORE the fact join via "
    "the broadcast, and the 5-row output aggregation is map-side "
    "partial. Catalyst picks the join order from sizes — declared, "
    "not hand-scheduled.",
)
def q_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    asia_nations = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(
            F.broadcast(asia_nations),
            cust.c_nationkey == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# ---------------------------------------------------------------------------
# Training-data ops — corpus rebalancing (temperature sampling) and
# exact-k deterministic per-group sampling
# ---------------------------------------------------------------------------


@_register(
    "temperature_sampling",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
    ), rates AS (
      SELECT lang, n_total,
             pow((SELECT min(n_total) FROM counts)::DOUBLE / n_total, 0.7)
               AS rate
      FROM counts
    ), gated AS (
      SELECT d.lang, r.n_total, r.rate,
             CASE WHEN substr(md5(d.doc_id::VARCHAR || ':' || d.lang), 1, 4)
                    < CASE WHEN floor(r.rate * 65536) >= 65536 THEN 'g'
                           ELSE lower(lpad(hex(CAST(floor(r.rate * 65536)
                                                    AS BIGINT)), 4, '0'))
                      END
                  THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT lang, n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(floor(rate * 65536) AS BIGINT) AS rate_u16
    FROM gated
    GROUP BY lang, n_total, rate_u16
    ORDER BY lang
    """,
    doc="Training-data op: temperature-based language rebalancing "
    "(the multilingual-pretraining alpha-sampling recipe — sampling "
    "rate per language ∝ (n_min/n_l)^(1-alpha), alpha=0.3, so the "
    "rarest language keeps everything and the head is downsampled "
    "toward balance). Membership is the same deterministic md5 "
    "content-hash gate as train_split_assign — but the CUTOFF is "
    "data-derived: the per-language rate becomes a 4-hex-digit "
    "string compared against the hash prefix (lexicographic == "
    "numeric for equal-length lowercase hex), so both engines "
    "select the identical row set with no floating-point compare. "
    "At 100 TB: the rate table is a per-language broadcast "
    "(5 rows), the gate a map-side expression — one count-shuffle "
    "total.",
    parts=8,
)
def q_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    w_all = Window.partitionBy()
    rates = counts.select(
        "lang",
        "n_total",
        F.pow(
            F.min("n_total").over(w_all).cast("double") / F.col("n_total"),
            F.lit(0.7),
        ).alias("rate"),
    ).withColumn(
        "rate_u16", F.floor(F.col("rate") * 65536).cast("bigint")
    )
    # rate ≥ 1 → cutoff 'g' (sorts above every hex prefix): without
    # this, floor(1.0·65536) = '10000' gets TRUNCATED by lpad(4) to
    # '1000' and the rarest language silently keeps 1/16 of its rows
    cutoff = F.when(F.col("rate_u16") >= 65536, F.lit("g")).otherwise(
        F.lower(F.lpad(F.hex(F.col("rate_u16")), 4, "0"))
    )
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.col("lang"))), 1, 4
    )
    gated = docs.join(F.broadcast(rates), "lang").select(
        "lang",
        "n_total",
        "rate_u16",
        F.when(h < cutoff, 1).otherwise(0).alias("kept"),
    )
    return (
        gated.groupBy("lang", "n_total", "rate_u16")
        .agg(F.sum("kept").alias("n_kept"))
        .select("lang", "n_total", "n_kept", "rate_u16")
        .orderBy("lang")
    )


@_register(
    "group_topk_sample",
    """
    SELECT lang, doc_id, n_chars
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
      FROM documents
    )
    WHERE rn <= 10
    ORDER BY lang, doc_id
    """,
    doc="Training-data op: exact-k deterministic per-stratum sample "
    "(k=10 docs per language) — the eval-set/inspection-sample "
    "companion of stratified_sample's fractional gate. Ordering by "
    "md5(doc_id) is a uniform pseudo-random permutation that every "
    "engine and every rerun agrees on (no rand(), no seed state); "
    "row_number ≤ k takes exactly k per group. The window "
    "partitions by the stratum key, so per-reducer state is one "
    "stratum — at 100 TB this is the standard single-shuffle "
    "per-key reservoir replacement (k rows of state per key, "
    "skew-safe for any realistic language count).",
    parts=8,
)
def q_group_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN — pq_topk + its recall gate
# ---------------------------------------------------------------------------


@_register(
    "pq_topk",
    None,  # k-means codebooks → not ANSI-SQL-expressible; quality gated
    # by pq_recall below
    doc="ANN via product quantization with exact re-rank (FAISS "
    "IndexPQ shape): per-subspace codebooks trained on the same "
    "size-capped sample as IVF, corpus encoded to m=16 5-bit codes "
    "(10 bytes vs 256 — a 25× compression; at 100 TB the codes "
    "table is ~4 TB and scan-resident where raw vectors are not), "
    "ADC lookup-table scan via mapInPandas keeping only (query, id, "
    "score) triples, then exact cosine re-rank of the top-256 "
    "candidates. Third index family next to sign-LSH (ann_topk) "
    "and IVF (ivf_topk) — PQ compresses the scan, IVF prunes it, "
    "and the two compose as IVF+PQ in a production deployment.",
    parts=8,
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import pq_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return pq_cosine_topk(
        queries, emb, k=5, m=16, ks=32, rerank=256, seed=11,
        cache_key=sf_dir,
    )


@_register(
    "pq_recall",
    "SELECT 'pq_recall_at_5' AS metric, TRUE AS passed",
    doc="ANN quality gate for the PQ index (pq_topk's exact "
    "configuration): recall@5 vs brute-force cosine ≥ 0.95 over 20 "
    "queries. Measured 1.00 at sf0.01 AND sf0.1 (m=16 subspaces × "
    "ks=32 centroids, rerank=256) — the margin comes from the exact "
    "re-rank stage: ADC only has to land true neighbors in the "
    "top-256, not rank them.",
    parts=8,
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import (
        brute_force_cosine_topk,
        pq_cosine_topk,
    )

    emb, queries = _ann_queries(spark, sf_dir)
    truth = brute_force_cosine_topk(
        queries, emb, k=5, id_col="vec_id", vec_col="embedding", round_to=4
    )
    approx = pq_cosine_topk(
        queries, emb, k=5, m=16, ks=32, rerank=256, seed=11,
        cache_key=sf_dir,
    )
    return _recall_gate(truth, approx, "pq_recall_at_5", 0.95)


# ---------------------------------------------------------------------------
# Relational coverage widening — EXISTS semi-join between facts (Q4),
# conditional market share (Q8), left-join distribution (Q13),
# cumulative windows, per-year deciles, arg-max per group
# ---------------------------------------------------------------------------


@_register(
    "late_shipment_priority",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: orders with at least one line shipped more "
    "than 60 days after order date, counted per priority — an EXISTS "
    "between two FACT tables (unlike exists_filter's dim probe), "
    "which must plan as a shuffled LEFT SEMI equi-join on orderkey: "
    "each order counted once no matter how many late lines, no "
    "row-multiplying inner join then distinct. At 100 TB both sides "
    "bucket by orderkey and the semi-join is co-partitioned.",
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@_register(
    "nation_market_share",
    f"""
    SELECT year(o.o_orderdate) AS o_year,
           {sql_dround("sum(CASE WHEN s.s_nationkey = 8 "
                       "THEN l.l_extendedprice * (1 - l.l_discount) "
                       "ELSE 0 END)", 4)} AS nation_rev,
           {sql_dround("sum(l.l_extendedprice * (1 - l.l_discount))", 4)}
             AS total_rev
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE r.r_name = 'ASIA'
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape (market share): for orders by ASIA-region "
    "customers, the yearly revenue supplied by one nation "
    "(s_nationkey=8) next to the total — conditional aggregation "
    "(CASE inside sum) over a 6-way join, the numerator and "
    "denominator computed in ONE pass instead of two query runs. "
    "Share = nation_rev/total_rev is left to the consumer: a ratio "
    "of two dround-ed sums is engine-exact, a rounded ratio of raw "
    "sums is not. All dims broadcast; the only wide exchange is "
    "lineitem⋈orders + the per-year agg.",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    asia = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia), cust.c_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dround(
                F.sum(F.when(F.col("s_nationkey") == 8, rev).otherwise(0.0)),
                4,
            ).alias("nation_rev"),
            dround(F.sum(rev), 4).alias("total_rev"),
        )
        .orderBy("o_year")
    )


@_register(
    "customer_order_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_orders
    """,
    doc="TPC-H Q13 shape (customer distribution): LEFT OUTER join so "
    "order-less customers survive as n_orders=0, then a second "
    "aggregation histograms customers by order count. The two-level "
    "agg is the canonical distribution query; count(o_orderkey) — "
    "not count(*) — is what makes the null-extended rows count 0. "
    "At 100 TB the first agg shuffles on custkey (or is free if "
    "orders is bucketed by custkey), the second on the tiny "
    "n_orders domain.",
)
def q_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


@_register(
    "running_revenue_by_customer",
    f"""
    SELECT o_custkey, o_orderdate, o_orderkey,
           {sql_dround(
               "sum(o_totalprice) OVER ("
               "PARTITION BY o_custkey "
               "ORDER BY o_orderdate, o_orderkey "
               "ROWS UNBOUNDED PRECEDING)", 2)} AS running_total
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    doc="Cumulative window: per-customer running revenue over order "
    "history — the lifetime-value curve. ROWS UNBOUNDED PRECEDING "
    "with a total ordering (date, orderkey) makes the prefix-sum "
    "sequence identical on both engines, so dround(2) on each "
    "cumulative value is bit-stable. Partitioned by customer → "
    "bounded per-reducer state; the o_custkey < 100 filter is "
    "pushed to the scan (the full-table form is the same plan).",
)
def q_running_revenue_by_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        orders.filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            dround(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@_register(
    "order_deciles_yearly",
    f"""
    SELECT o_year, decile,
           count(*) AS n_orders,
           {sql_dround("min(o_totalprice)", 2)} AS min_price,
           {sql_dround("max(o_totalprice)", 2)} AS max_price
    FROM (
      SELECT year(o_orderdate) AS o_year, o_totalprice,
             ntile(10) OVER (
               PARTITION BY year(o_orderdate)
               ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
      FROM orders
    )
    GROUP BY o_year, decile
    ORDER BY o_year, decile
    """,
    doc="NTILE deciles of order value per year — the rank-bucketing "
    "window next to percent_rank. Partitioned by year so per-reducer "
    "state is one year of one partition, never the global sort a "
    "bare ntile() would need (the same bounded-state argument as "
    "percent_rank_yearly); tie-broken by orderkey so both engines "
    "assign identical bucket membership on equal prices. At true "
    "100 TB scale exact global deciles give way to "
    "percentile_approx cutoffs (approx_quantile_gate covers that "
    "path); this is the exact form at bounded partition size.",
)
def q_order_deciles_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy(F.year("o_orderdate")).orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            F.year("o_orderdate").alias("o_year"),
            "o_totalprice",
            F.ntile(10).over(w).alias("decile"),
        )
        .groupBy("o_year", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(F.min("o_totalprice"), 2).alias("min_price"),
            dround(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_year", "decile")
    )


@_register(
    "top_lineitem_per_order",
    """
    SELECT l_orderkey,
           arg_max(l_partkey, l_extendedprice * 1000 + l_linenumber)
             AS top_partkey,
           arg_max(l_linenumber, l_extendedprice * 1000 + l_linenumber)
             AS top_linenumber
    FROM lineitem
    WHERE l_orderkey < 4000
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    doc="Arg-max per group via max_by — the single-pass alternative "
    "to last_value_per_group's window+filter (one hash aggregate, "
    "no sort, no row_number): the highest-value line of each order "
    "with its part. The ordering key embeds the tie-break "
    "numerically (price·1000 + linenumber: prices step by ≥0.01 → "
    "key gaps ≥10 dominate the ≤7 linenumber term, and both engines "
    "compute the identical IEEE double), because neither engine's "
    "arg_max/max_by accepts a composite sort value portably. "
    "Map-side partial max_by makes this the cheapest "
    "greatest-per-group shape at 100 TB.",
)
def q_top_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 4000
    )
    key = F.col("l_extendedprice") * 1000 + F.col("l_linenumber")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.max_by("l_partkey", key).alias("top_partkey"),
            F.max_by("l_linenumber", key).alias("top_linenumber"),
        )
        .orderBy("l_orderkey")
    )


@_register(
    "ivfpq_topk",
    None,  # k-means coarse quantizer + PQ codebooks → not SQL-expressible
    doc="IVF+PQ composed ANN (FAISS IndexIVFPQ, by_residual=false): "
    "IVF prunes the scan to n_probe/n_centroids of the corpus, PQ "
    "compresses what flows through the candidate equi-join to the "
    "m-byte code array (plain ivf_topk ships raw vectors through "
    "its join), ADC lookup-table scoring on the joined candidates, "
    "exact cosine re-rank of the top-256. The production-shape "
    "composition of the two index families; quality gated by "
    "ivfpq_recall.",
    parts=8,
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import (
        ivfpq_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return ivfpq_cosine_topk(queries, emb, k=5, seed=11, cache_key=sf_dir)


@_register(
    "ivfpq_recall",
    "SELECT 'ivfpq_recall_at_5' AS metric, TRUE AS passed",
    doc="ANN quality gate for the composed IVF+PQ index (ivfpq_topk's "
    "exact configuration: 8 centroids, n_probe=5, n_assign=2, m=16, "
    "ks=32, rerank=256): recall@5 vs brute-force cosine ≥ 0.95 over "
    "20 queries. Measured 1.00 at sf0.01, 0.99 at sf0.1 — the "
    "2-way spilled assignment recovers what single-cluster pruning "
    "loses on weakly-clustered data (0.86 without it), and the "
    "exact re-rank absorbs PQ quantization error.",
    parts=8,
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivfpq_cosine_topk,
    )

    emb, queries = _ann_queries(spark, sf_dir)
    truth = brute_force_cosine_topk(
        queries, emb, k=5, id_col="vec_id", vec_col="embedding", round_to=4
    )
    approx = ivfpq_cosine_topk(queries, emb, k=5, seed=11, cache_key=sf_dir)
    return _recall_gate(truth, approx, "ivfpq_recall_at_5", 0.95)


@_register(
    "stream_enrich_batch_eq",
    f"""
    SELECT n.n_name,
           count(*) AS n_events,
           {sql_dround("sum(e.value)", 2)} / count(*) AS avg_value
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Sixth streaming rung under the ORACLE gate — stream-static "
    "broadcast enrichment: events re-landed as micro-batchable parquet, "
    "read with readStream, joined per micro-batch against the "
    "static nation dimension (streaming/ops.py stream_enrich — the "
    "dim is re-read each batch, so slowly-changing dimensions pick "
    "up updates without a restart), aggregated per nation with the "
    "dround(sum)/count determinism trick, availableNow to a memory "
    "sink, hash-compared against the plain batch join+agg SQL. "
    "The join key (user_id %% 25) stands in for the usual "
    "fact-to-dim foreign key.",
    parts=8,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.functions.scalars import (  # noqa: PLC0415
        dround as _dr,
    )
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_enrich,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    dim = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    keyed = s.read_stream(batch.schema).withColumn(
        "n_nationkey", F.pmod(F.col("user_id"), F.lit(25))
    )
    enriched = stream_enrich(keyed, dim, ["n_nationkey"], how="inner")
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        (_dr(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
    ).select("n_name", "n_events", "avg_value")
    return s.to_memory(agg, "complete")


@_register(
    "training_order_shard",
    """
    SELECT shard, count(*) AS n_docs, min(pos) AS first_pos,
           max(pos) AS last_pos,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8
               AS shard,
             row_number() OVER (
               PARTITION BY
                 (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8
               ORDER BY h, doc_id) - 1 AS pos,
             n_chars
      FROM (
        SELECT doc_id, n_chars,
               md5(doc_id::VARCHAR || ':order') AS h
        FROM documents
      )
    )
    GROUP BY shard
    ORDER BY shard
    """,
    doc="Training-data op: deterministic global shuffle into ordered "
    "shards — the write-training-shards step after packing. Every "
    "doc gets an md5 position (salted with ':order' so the "
    "permutation is independent of the split/sampling hashes), the "
    "first hex digit mod 8 picks the shard, and row_number within "
    "the shard gives the read order: a uniform pseudo-random "
    "permutation that every rerun, engine, and partitioning "
    "reproduces bit-identically (no rand(), no seed state, no "
    "global sort — the only shuffle is the 8-way shard exchange, "
    "and within-shard order is a per-reducer local sort). The "
    "oracle checks the shard histogram + position bounds; the md5 "
    "digit is uniform so shards balance to ~n/8.",
    parts=8,
)
def q_training_order_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":order")))
    shard = F.conv(F.substring(h, 1, 1), 16, 10).cast("int") % 8
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    positioned = (
        docs.select("doc_id", "n_chars", h.alias("h"))
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w) - 1)
    )
    return (
        positioned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("shard")
    )


@_register(
    "doc_keywords",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               regexp_split_to_array(lower(trim(text)), '[^a-z0-9'']+'),
               x -> x <> '') AS tokens
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(tokens) AS term FROM toks
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), idf AS (
      SELECT term,
             CAST(floor(
               (ln((n_docs + 1) / (count(DISTINCT doc_id) + 1)) + 1)
               * 1000000 + 0.5) AS BIGINT) AS idf_fix
      FROM tf, n
      GROUP BY term, n_docs
    ), ranked AS (
      SELECT tf.doc_id, tf.term,
             (tf.tf * idf.idf_fix)::DOUBLE / 1000000.0 AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * idf.idf_fix DESC, tf.term ASC) AS rank
      FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, rank, term, score
    FROM ranked WHERE rank <= 3 AND doc_id < 100
    ORDER BY doc_id, rank
    """,
    doc="Keyword extraction: top-3 tf·idf terms PER DOCUMENT — the "
    "doc-centric complement of text_search_rank's query-centric "
    "ranking (tagging/labeling for corpus browsing, the engine twin "
    "of ES significant-terms). Full-vocabulary idf: (term, df) is a "
    "vocabulary-sized aggregate that broadcasts into the tf join; "
    "scores are exact integer products of fixed-point idf (order-"
    "proof), per-doc rank tie-broken by term. At 100 TB the "
    "(doc,term) tf aggregate is the only corpus-sized exchange and "
    "the per-doc window state is bounded by a doc's distinct terms. "
    "doc_id < 100 bounds the driver-checked output, not the compute.",
    parts=8,
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    ex = docs.select("doc_id", F.explode(toks).alias("term"))
    # (doc, term) tf feeds BOTH the idf aggregate and the final score
    # join — materialize the (small, vocab×docs-bounded) table so the
    # tokenize-explode-agg subtree runs once, not once per branch; at
    # 100 TB this is the term-frequency table an inverted-index build
    # would land anyway
    tf = stage_boundary(ex.groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    # fold the 1-row corpus count into the vocab table via the
    # data-derived constant-key equi-join (see unigram_logprob_quality:
    # a bare 1-row crossJoin plans as BroadcastNestedLoopJoin)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "__k", _const_key(F.col("n_docs"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .withColumn("__k", _const_key(F.col("term")))
        .join(F.broadcast(n_docs), "__k")
        .drop("__k")
        .select(
            "term",
            F.floor(
                (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1)
                * 1000000
                + 0.5
            ).cast("long").alias("idf_fix"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("idf_fix")).desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 100))
        .select(
            "doc_id",
            "rank",
            "term",
            (
                (F.col("tf") * F.col("idf_fix")).cast("double") / 1000000.0
            ).alias("score"),
        )
        .orderBy("doc_id", "rank")
    )


@_register(
    "period_reconcile_full_outer",
    """
    WITH p1 AS (
      SELECT user_id, count(*) AS n1 FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    ), p2 AS (
      SELECT user_id, count(*) AS n2 FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    )
    SELECT coalesce(p1.user_id, p2.user_id) AS user_id,
           coalesce(n1, 0) AS n_before,
           coalesce(n2, 0) AS n_after,
           CASE WHEN n1 IS NULL THEN 'new'
                WHEN n2 IS NULL THEN 'churned'
                ELSE 'retained' END AS status
    FROM p1 FULL OUTER JOIN p2 ON p1.user_id = p2.user_id
    ORDER BY user_id
    """,
    doc="FULL OUTER join — the one join type the pack lacked: "
    "reconcile per-user activity across two periods, classifying "
    "users as new/churned/retained with coalesced counts. The "
    "canonical two-snapshot reconciliation (same family as "
    "snapshot_diff, which compares VALUES on matched keys; this "
    "compares KEY MEMBERSHIP). Full outer cannot broadcast either "
    "side by definition — it plans as a shuffled sort-merge join on "
    "user_id, which is the correct 100 TB shape; both inputs are "
    "pre-aggregated so the join moves one row per (user, period), "
    "not raw events.",
)
def q_period_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    p1 = (
        events.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    p2 = (
        events.filter(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    joined = p1.join(p2, "user_id", "full_outer")
    status = (
        F.when(F.col("n1").isNull(), "new")
        .when(F.col("n2").isNull(), "churned")
        .otherwise("retained")
    )
    return joined.select(
        "user_id",
        F.coalesce("n1", F.lit(0)).alias("n_before"),
        F.coalesce("n2", F.lit(0)).alias("n_after"),
        status.alias("status"),
    ).orderBy("user_id")


@_register(
    "rolling_correlation_14d",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             {sql_dround("sum(CASE WHEN event_type = 'view' "
                         "THEN value ELSE 0 END)", 2)} AS x,
             {sql_dround("sum(CASE WHEN event_type = 'purchase' "
                         "THEN value ELSE 0 END)", 2)} AS y
      FROM events
      GROUP BY 1
    ), win AS (
      SELECT day,
             count(*) OVER w AS n,
             {sql_dround("sum(x) OVER w", 2)} AS sx,
             {sql_dround("sum(y) OVER w", 2)} AS sy,
             {sql_dround("sum(x * x) OVER w", 4)} AS sxx,
             {sql_dround("sum(y * y) OVER w", 4)} AS syy,
             {sql_dround("sum(x * y) OVER w", 4)} AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           n,
           {sql_dround(
               "(n * sxy - sx * sy) / "
               "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
             AS corr_14
    FROM win
    WHERE n = 14
    ORDER BY day
    """,
    doc="Rolling 14-day Pearson correlation between the daily view "
    "and purchase value series — the co-movement monitor "
    "(pairwise_correlation gives one global number; this gives its "
    "evolution). One aggregation to daily grain, then ALL six "
    "sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) from a single "
    "14-row window pass — never a self-join of the series against "
    "itself. Determinism: the daily inputs are dround-ed first "
    "(bit-identical on both engines), window sums re-dround at "
    "their true scale, and the closed-form corr is a quotient of "
    "identical doubles. The global-window state is 14 rows; at "
    "100 TB this partitions by symbol/entity exactly like "
    "rolling_mean_30.",
    parts=8,
)
def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            dround(
                F.sum(
                    F.when(F.col("event_type") == "view", F.col("value"))
                    .otherwise(0.0)
                ), 2,
            ).alias("x"),
            dround(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", F.col("value")
                    ).otherwise(0.0)
                ), 2,
            ).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        dround(F.sum("x").over(w), 2).alias("sx"),
        dround(F.sum("y").over(w), 2).alias("sy"),
        dround(F.sum(F.col("x") * F.col("x")).over(w), 4).alias("sxx"),
        dround(F.sum(F.col("y") * F.col("y")).over(w), 4).alias("syy"),
        dround(F.sum(F.col("x") * F.col("y")).over(w), 4).alias("sxy"),
    )
    corr = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        win.filter(F.col("n") == 14)
        .select("day", "n", dround(corr, 6).alias("corr_14"))
        .orderBy("day")
    )


@_register(
    "mad_anomalies",
    f"""
    WITH med AS (
      SELECT event_type,
             {sql_dround("quantile_cont(value, 0.5)", 4)} AS m
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type,
             {sql_dround("abs(e.value - med.m)", 4)} AS adev
      FROM events e JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type,
             {sql_dround("quantile_cont(adev, 0.5)", 4)} AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * mad.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc="Robust anomaly counting via MAD (median absolute deviation): "
    "per-type median, median of absolute deviations, then the "
    "|x - m| > 3·1.4826·MAD outlier rule — the robust twin of "
    "zscore_anomalies (one planted spike shifts a mean/stddev gate; "
    "the median pair shrugs it off). Two exact-percentile passes "
    "with the tiny per-type medians broadcast back into the scan "
    "between them; both medians dround-ed before the comparison so "
    "the outlier threshold is the identical double on both engines. "
    "At 100 TB the exact percentile swaps for percentile_approx "
    "(approx_quantile_gate bounds that error).",
    parts=8,
)
def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    med = events.groupBy("event_type").agg(
        dround(F.percentile("value", F.lit(0.5)), 4).alias("m")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        dround(F.abs(F.col("value") - F.col("m")), 4).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        dround(F.percentile("adev", F.lit(0.5)), 4).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col("adev") > 3 * 1.4826 * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@_register(
    "cms_heavy_hitters",
    """
    WITH ex AS (
      SELECT user_id, t.i,
             ('0x' || substr(md5(user_id::VARCHAR || ':' || t.i), 1, 4)
             )::INTEGER % 256 AS bucket
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) t
    ), counters AS (
      SELECT i, bucket, count(*) AS c FROM ex GROUP BY i, bucket
    ), truth AS (
      SELECT user_id, count(*) AS n_true
      FROM events GROUP BY user_id
      ORDER BY n_true DESC, user_id ASC LIMIT 10
    ), probes AS (
      SELECT truth.user_id, truth.n_true, t.i,
             ('0x' || substr(md5(truth.user_id::VARCHAR || ':' || t.i),
                             1, 4))::INTEGER % 256 AS bucket
      FROM truth, (SELECT unnest([0, 1, 2, 3]) AS i) t
    )
    SELECT p.user_id, p.n_true, min(c.c) AS n_est
    FROM probes p JOIN counters c ON p.i = c.i AND p.bucket = c.bucket
    GROUP BY p.user_id, p.n_true
    ORDER BY p.n_true DESC, p.user_id ASC
    """,
    doc="Count-Min sketch heavy hitters — the frequency-estimation "
    "member of the mergeable-sketch family next to HLL "
    "(hll_partial_rollup) and GK quantiles (approx_quantile_gate): "
    "a d=4 × w=256 counter grid (md5-derived buckets, so BOTH "
    "engines build the bit-identical sketch and the oracle checks "
    "the ESTIMATES exactly, not just a pass flag), probed for the "
    "exact top-10 users. CMS guarantees n_est ≥ n_true always and "
    "n_est ≤ n_true + e·N/w w.h.p. — the sketch is 1024 counters "
    "regardless of user cardinality, merges by cell-wise addition "
    "(partial aggregation IS the merge), and at 100 TB replaces a "
    "full (user, count) table wherever only heavy hitters matter.",
    parts=8,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id")
    d_rows = F.array(*[F.lit(i) for i in range(4)])

    def bucket(uid_col, i_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            uid_col.cast("string"), F.lit(":"),
                            i_col.cast("string"),
                        )
                    ), 1, 4,
                ), 16, 10,
            ).cast("int") % 256
        )

    ex = events.select(
        "user_id", F.explode(d_rows).alias("i")
    ).select("i", bucket(F.col("user_id"), F.col("i")).alias("bucket"))
    counters = ex.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    truth = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .orderBy(F.col("n_true").desc(), F.col("user_id").asc())
        .limit(10)
    )
    probes = truth.select(
        "user_id", "n_true", F.explode(d_rows).alias("i")
    ).withColumn("bucket", bucket(F.col("user_id"), F.col("i")))
    return (
        probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id", "n_true")
        .agg(F.min("c").alias("n_est"))
        .orderBy(F.col("n_true").desc(), F.col("user_id").asc())
    )


@_register(
    "sentiment_distribution",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(
               regexp_split_to_array(lower(trim(text)), '[^a-z0-9'']+'),
               x -> x <> '') AS tokens
      FROM documents
    ), scored AS (
      SELECT lang,
             {sql_dround(
                 "greatest(-1.0, least(1.0, "
                 "(len(list_filter(tokens, "
                 f"x -> x IN ({_sql_wordlist(POSITIVE_WORDS)}))) - "
                 "len(list_filter(tokens, "
                 f"x -> x IN ({_sql_wordlist(NEGATIVE_WORDS)}))))::DOUBLE "
                 f"/ greatest(len(tokens), 1) * {SCALE}))", 4)} AS score
      FROM toks
    )
    SELECT CASE WHEN score >= 0.05 THEN 'positive'
                WHEN score <= -0.05 THEN 'negative'
                ELSE 'neutral' END AS sentiment_label,
           lang,
           count(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    ORDER BY sentiment_label, lang
    """,
    doc="The 'Distribution des sentiments' Lens panel (reference "
    "kibana_saved_objects.ndjson): corpus sentiment histogram, here "
    "split per language — label × lang counts in one aggregation "
    "over the same JVM-side lexicon expression sentiment_docs "
    "verifies per-doc. Map-side partial agg over a 15-cell output "
    "domain; at 100 TB this is a free second aggregation on the "
    "already-scored stream.",
    parts=8,
)
def q_sentiment_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    score = sentiment_score_expr("text")
    return (
        docs.select(sentiment_label(score).alias("sentiment_label"), "lang")
        .groupBy("sentiment_label", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("sentiment_label", "lang")
    )


@_register(
    "array_hof_kit",
    f"""
    SELECT vec_id,
           len(embedding) AS dim,
           {sql_dround("list_aggregate(embedding, 'min')::DOUBLE", 4)}
             AS vmin,
           {sql_dround("list_aggregate(embedding, 'max')::DOUBLE", 4)}
             AS vmax,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           {sql_dround(
               "sqrt(list_aggregate(list_transform(embedding, "
               "x -> x::DOUBLE * x::DOUBLE), 'sum'))", 4)} AS l2,
           {sql_dround(
               "list_aggregate(list_transform("
               "list_zip(embedding, list_reverse(embedding)), "
               "p -> p[1]::DOUBLE * p[2]::DOUBLE), 'sum')", 4)}
             AS self_rev_dot
    FROM embeddings
    WHERE vec_id < 50
    ORDER BY vec_id
    """,
    doc="Array higher-order-function kit, exercised explicitly as a "
    "checked surface (the HOFs the similarity/dedup operators use "
    "internally): size, aggregate-min/max, lambda filter-count, "
    "transform+aggregate (L2 norm), and zip_with against the "
    "reversed self (Spark zip_with == DuckDB list_zip + transform). "
    "All JVM-side expressions — HOFs evaluate interpreted (no "
    "codegen), which is why the BULK vector math lives in "
    "Arrow-batched numpy kernels; this kit covers the API surface "
    "where per-row HOF cost is fine. Map-side only, zero shuffles "
    "beyond the pushed vec_id filter.",
    parts=8,
)
def q_array_hof_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 50
    )
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        dround(F.array_min(vd), 4).alias("vmin"),
        dround(F.array_max(vd), 4).alias("vmax"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias(
            "n_pos"
        ),
        dround(
            F.sqrt(
                F.aggregate(
                    F.transform(vd, lambda x: x * x),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
            ), 4,
        ).alias("l2"),
        dround(
            F.aggregate(
                F.zip_with(vd, F.reverse(vd), lambda a, b: a * b),
                F.lit(0.0),
                lambda a, v: a + v,
            ), 4,
        ).alias("self_rev_dot"),
    ).orderBy("vec_id")


@_register(
    "variant_shred_agg",
    """
    SELECT event_type,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k,
           max(k) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Schemaless JSON via Spark 4's VARIANT type: parse_json into "
    "a variant column, try_variant_get the field, aggregate — the "
    "no-schema-declared complement of json_extract_agg's "
    "from_json(schema) path. VARIANT stores shredded binary JSON "
    "(field access without re-parsing text per extraction, the "
    "Snowflake/Delta variant design Spark 4 adopted), and "
    "try_variant_get degrades missing/mistyped fields to null "
    "(count(k) skips them) instead of failing the batch. At 100 TB "
    "parse once → extract many is the difference between one "
    "tokenizer pass and one per field.",
)
def q_variant_shred_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        events.select(
            "event_type",
            F.try_variant_get(v, "$.k", "int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@_register(
    "simhash_accuracy",
    "SELECT 'simhash_mean_hamming' AS metric, TRUE AS passed",
    doc="SimHash estimator accuracy as a correctness gate — the last "
    "approximation family without one (minhash_accuracy, "
    "ann/ivf/pq/ivfpq_recall cover the others): on candidate pairs "
    "whose exact hashed-shingle Jaccard is ≥ 0.9, the MEAN 64-bit "
    "simhash Hamming distance must be ≤ 8, and at least one such "
    "pair must exist. Measured mean ≈ 3 at sf0.01 AND sf0.1 "
    "(worst single pair 11); independent random hashes average 32, "
    "so a broken hash family or bit-packing regression fails "
    "decisively — and a MEAN stays stable as the pair count grows "
    "where a max-gate is an order statistic that eventually trips "
    "(the minhash_accuracy lesson). Same candidate-only scan shape: "
    "the full corpus is shingled once in the LSH pass, verify "
    "hashes run on a broadcast semi-join of candidate docs.",
    parts=8,
)
def q_simhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import (
        hamming64,
        pair_docs,
        simhash64,
        verified_near_dup_pairs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # read twice: for the touched docs and for the scored join
    pairs = stage_boundary(verified_near_dup_pairs(docs, "doc_id"))
    sh = pair_docs(pairs, docs, "doc_id").select(
        "doc_id", simhash64(F.col("text"), 2).alias("sh")
    ).filter(F.col("sh").isNotNull())
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(hamming64(F.col("sh_a"), F.col("sh_b")).alias("d"))
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.avg("d").alias("mean_d")
    ).select(
        F.lit("simhash_mean_hamming").alias("metric"),
        ((F.col("n_pairs") >= 1) & (F.col("mean_d") <= 8.0)).alias("passed"),
    )


@_register(
    "media_audio_features",
    None,  # FFT band energies → not ANSI-SQL-expressible; rows-only
    doc="REAL audio decode under the driver gate: 64 deterministic "
    "PCM WAV payloads are synthesized from the events table "
    "(sine frequency keyed by event value — genuine RIFF bytes, "
    "not a fake codec), landed as a media frame, and pushed "
    "through the actual mapInPandas decode pipeline with the "
    "stdlib WAV codec (multimodal.wav_feature_decoder: RIFF chunk "
    "parse → 12-dim duration/rms/zcr/spectral-band features). "
    "Complements multimodal_features (which checks batch shapes "
    "with the fake codec) by executing a real byte-level decoder "
    "distributed; output is the per-asset feature dimensionality "
    "and loudness ordering, stable across runs.",
    parts=8,
)
def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from yahoofinancedatalake_spark.operators import (  # noqa: PLC0415
        multimodal as mm,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 64)
        .select("event_id", "value")
    )

    def synth(batches):
        rate = 4000
        for pdf in batches:
            payloads = []
            for _, row in pdf.iterrows():
                freq = 100.0 + (abs(float(row["value"])) % 50.0) * 20.0
                n = rate // 4
                sig = 0.4 * np.sin(
                    2 * np.pi * freq * np.arange(n) / rate
                )
                pcm = (sig * 32767).astype("<i2").tobytes()
                hdr = (
                    b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
                    + b"fmt " + struct.pack(
                        "<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16
                    )
                    + b"data" + struct.pack("<I", len(pcm))
                )
                payloads.append(hdr + pcm)
            yield pd.DataFrame(
                {
                    "media_id": pdf["event_id"],
                    "kind": "audio",
                    "content": payloads,
                    "format": "wav",
                }
            )

    media = events.mapInPandas(
        synth,
        schema="media_id long, kind string, content binary, format string",
    )
    old = dict(mm._DECODERS)
    try:
        mm.register_decoder("audio", mm.wav_feature_decoder)
        feats = mm.extract_features(media)
    finally:
        mm._DECODERS.clear()
        mm._DECODERS.update(old)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("feature").alias("n_features"),
        dround(F.element_at("feature", 4), 4).alias("rms"),
    ).orderBy("media_id")


QUERIES["dedup_clusters_star"] = Query(
    name="dedup_clusters_star",
    spark=QUERIES["dedup_clusters"].spark,
    oracle=QUERIES["dedup_clusters"].oracle,
    doc="Dedup clusters under the star-contraction name: the same "
    "function, plan and oracle as dedup_clusters. The engine has one "
    "components operator (operators/dedup.connected_components, "
    "alternating large/small-star contraction); this name is kept "
    "for its callers.",
)
