"""The remaining classic TPC-H plan shapes (split from pack.py, r7 — pure refactor).

Registers 25 queries (registration order is the
import order in pack.py):
- ``large_order_customers``
- ``disjunctive_parts_revenue``
- ``solo_late_supplier``
- ``idle_customer_balance``
- ``udtf_word_index``
- ``trimmed_mean_udaf``
- ``seasonal_decompose``
- ``bigram_logprob_quality``
- ``media_image_resize``
- ``sliding_distinct_users_7d``
- ``chunk_dedup``
- ``asof_forward_attribution``
- ``char_entropy_quality``
- ``top_revenue_suppliers``
- ``small_quantity_revenue``
- ``grouping_sets_custom``
- ``map_hof_kit``
- ``media_frame_sample``
- ``important_parts``
- ``supplier_variety``
- ``datasketches_kit``
- ``bpe_token_count``
- ``bpe_roundtrip_gate``
- ``cluster_canonical_docs``
- ``set_ops_kit``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.queries._registry import (
    QUERIES,
    Query,
    _const_key,
    _register,
)
from yahoofinancedatalake_spark.queries.pack_07_training_prep import (
    _CHUNK_S,
    _CHUNK_W,
    _WORD_TOKS_SQL,
    _word_toks,
)
from yahoofinancedatalake_spark.session import stage_boundary


# ---------------------------------------------------------------------------
# Round-4 fourth wave — the remaining classic TPC-H plan shapes
# (agg-derived semi-join, disjunctive pushdown, semi+anti chain,
# scalar-subquery threshold), the Python UDTF / grouped-agg
# pandas-UDF API surfaces, seasonal decomposition, a bigram LM, and
# distributed image resize.
# ---------------------------------------------------------------------------


@_register(
    "large_order_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, o.o_orderkey,
           {sql_dround('o.o_totalprice', 2)} AS total_price,
           {sql_dround('big.qty', 2)} AS total_qty
    FROM orders o
    JOIN big ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (large-volume customers): orders whose line "
    "quantities sum past a threshold, joined back to customers, "
    "top-20 by price. The classic agg-derived semi-join — the "
    "HAVING aggregate IS the filter set, computed once and joined, "
    "never an IN-subquery that re-aggregates. At 100 TB the "
    "lineitem agg shuffles on orderkey (free if bucketed), the "
    "surviving set is tiny so AQE converts the orders join to a "
    "broadcast at runtime, and the top-20 is a "
    "TakeOrderedAndProject, never a global sort.",
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            dround(F.col("o_totalprice"), 2).alias("total_price"),
            dround(F.col("qty"), 2).alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@_register(
    "disjunctive_parts_revenue",
    """
    SELECT count(*) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                          * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_size BETWEEN 11 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_size BETWEEN 26 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive predicates): revenue over an "
    "OR-of-ANDs condition spanning BOTH join sides. The per-side "
    "halves of each disjunct are still pushdown-able — Catalyst "
    "derives l_quantity BETWEEN 1 AND 30 and p_size BETWEEN 1 AND "
    "50 as scan-level filters from the OR, so neither table is read "
    "in full — while the cross-side conjunctions evaluate after the "
    "broadcast join. Revenue is summed as exact integer cents "
    "(floor(x·100+0.5) per line before the sum) so the single-row "
    "answer is bit-identical regardless of partition sum order.",
)
def q_disjunctive_parts_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size")
    ps, lq = F.col("p_size"), F.col("l_quantity")
    cond = (
        (ps.between(1, 10) & lq.between(1, 11))
        | (ps.between(11, 25) & lq.between(10, 20))
        | (ps.between(26, 50) & lq.between(20, 30))
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


@_register(
    "solo_late_supplier",
    """
    WITH late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY
    ), cand AS (
      SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
      WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey)
    )
    SELECT s.s_name, count(*) AS numwait
    FROM cand JOIN supplier s ON s.s_suppkey = cand.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): in "
    "finalized multi-supplier orders, the suppliers who were the "
    "ONLY late one — a semi-join (another supplier participated) "
    "chained with an anti-join (no OTHER supplier was late) on the "
    "same equi-key with a suppkey inequality as residual. This is "
    "the hardest classic join chain: both subqueries plan as "
    "LeftSemi/LeftAnti on orderkey, never a count-then-filter "
    "re-aggregation. At 100 TB everything co-partitions on "
    "orderkey (one bucketed layout serves all three legs) and the "
    "supplier dim broadcasts into the final count.",
)
def q_solo_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderstatus") == "F")
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
            )
        )
        .select("l_orderkey", "l_suppkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    a = late.alias("a")
    other = li.select("l_orderkey", "l_suppkey").alias("b")
    has_other = a.join(
        other,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    ).alias("a")
    no_other_late = has_other.join(
        late.alias("c"),
        (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        no_other_late.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@_register(
    "idle_customer_balance",
    """
    WITH thresh AS (
      SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
             / (100.0 * count(*)) AS ab
      FROM customer WHERE c_acctbal > 0.0
    ), cutoff AS (
      SELECT max(o_orderdate) - INTERVAL 180 DAY AS cut FROM orders
    )
    SELECT c.c_nationkey, count(*) AS n_custs,
           CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_bal_cents
    FROM customer c CROSS JOIN thresh
    WHERE c.c_acctbal > thresh.ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o CROSS JOIN cutoff
        WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= cutoff.cut)
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape (idle high-balance customers): customers "
    "above the average positive balance with NO order in the last "
    "180 days of history, grouped by nation. Two data-derived "
    "scalars — the balance threshold and the recency cutoff — fold "
    "in via the constant-key broadcast equi-join (a bare 1-row "
    "crossJoin would plan BroadcastNestedLoopJoin), and the "
    "recency check is an anti-join against the pre-filtered recent "
    "orders. The threshold is an exact integer-cents quotient and "
    "balances aggregate as exact cents, so membership at the "
    "boundary can never differ between engines. At 100 TB the "
    "anti-join shuffles on custkey; everything else is map-side.",
)
def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cents = lambda c: F.floor(c * 100 + 0.5).cast("long")  # noqa: E731
    thresh = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(cents(F.col("c_acctbal")))
                / (100.0 * F.count(F.lit(1)))
            ).alias("ab")
        )
        .withColumn("__k", _const_key(F.col("ab")))
    )
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 180 DAYS")).alias("cut")
    ).withColumn("__k", _const_key(F.col("cut")))
    recent = (
        orders.withColumn("__k", _const_key(F.col("o_custkey")))
        .join(F.broadcast(cutoff), "__k")
        .filter(F.col("o_orderdate") >= F.col("cut"))
        .select("o_custkey")
    )
    rich = (
        cust.withColumn("__k", _const_key(F.col("c_custkey")))
        .join(F.broadcast(thresh), "__k")
        .filter(F.col("c_acctbal") > F.col("ab"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    idle = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(cents(F.col("c_acctbal"))).alias("total_bal_cents"),
        )
        .orderBy("c_nationkey")
    )


@_register(
    "udtf_word_index",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS t FROM documents
    ), ex AS (
      SELECT doc_id, unnest(t) AS word,
             unnest(generate_series(0, len(t) - 1)) AS pos
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, word, min(pos) AS first_pos, count(*) AS n_occ
    FROM ex
    WHERE doc_id < 100
    GROUP BY doc_id, word
    ORDER BY doc_id, word
    """,
    doc="Python UDTF surface (§2.9 completed: UDF + UDAF + UDTF): a "
    "user-defined TABLE function builds a per-document mini inverted "
    "index — one input row expands to one row per distinct word with "
    "its first position and occurrence count — consumed via SQL "
    "LATERAL. UDTFs are the extension point for row-expanding logic "
    "a built-in generator can't express (stateful parse, per-row "
    "emission decisions); this one is deliberately SQL-replayable so "
    "the driver's oracle can hash-check the full output. The UDTF "
    "evaluates per-partition in one Python worker pass — no shuffle "
    "is introduced by the expansion itself; the doc_id < 100 filter "
    "bounds driver output, not the compute.",
    parts=8,
)
def q_udtf_word_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re  # noqa: PLC0415

    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(returnType="word string, first_pos int, n_occ long")
    class WordIndex:
        """Per-doc inverted-index rows from one text value.

        Tokenization mirrors ``_word_toks`` exactly (lowercase, strip,
        split on runs of non-[a-z0-9']) so the DuckDB oracle can
        replay it with ``regexp_split_to_array``.
        """

        def eval(self, text: str):  # noqa: D102
            toks = [
                t
                for t in re.split(r"[^a-z0-9']+", (text or "").strip().lower())
                if t
            ]
            seen: dict = {}
            for i, t in enumerate(toks):
                if t in seen:
                    seen[t][1] += 1
                else:
                    seen[t] = [i, 1]
            for word, (first, n) in seen.items():
                yield word, first, n

    spark.udtf.register("word_index", WordIndex)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, w.word, w.first_pos, w.n_occ
        FROM __udtf_docs d, LATERAL word_index(d.text) w
        ORDER BY d.doc_id, w.word
        """
    )


@_register(
    "trimmed_mean_udaf",
    """
    WITH ranked AS (
      SELECT event_type, value, event_id,
             percent_rank() OVER (
               PARTITION BY event_type
               ORDER BY value, event_id) AS pr
      FROM events
    )
    SELECT event_type,
           count(*) AS n_kept,
           sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
             / (10000.0 * count(*)) AS trimmed_mean
    FROM ranked
    WHERE pr >= 0.1 AND pr <= 0.9
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Grouped-aggregate pandas UDF (the UDAF leg of §2.9 — "
    "applyInPandas covers grouped-MAP, this covers grouped-AGG): a "
    "10%-trimmed mean of event values per type, the robust-mean "
    "recipe a built-in can't express in one aggregate. The whole "
    "group arrives as Arrow series; ranking ties break on event_id "
    "so the kept set is deterministic, and the mean is an exact "
    "integer fixed-point quotient — bit-identical to the SQL "
    "window+filter replay. Grouped-agg UDFs need the full group in "
    "one worker (no partial aggregation) — fine for bounded group "
    "counts like event types; unbounded-cardinality keys should "
    "pre-aggregate instead.",
    parts=8,
)
def q_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    def kept_mask(v, eid):
        # exact mirror of the SQL percent_rank()-window semantics,
        # INCLUDING the degenerate groups: a 1-row group has pr=0
        # (DuckDB defines percent_rank of a single row as 0) and a
        # 2-row group has pr=[0,1] — both trim to empty, and such
        # groups must VANISH like the oracle's WHERE clause makes
        # them (the caller filters n_kept=0 rows out after the agg)
        order = np.lexsort((eid.to_numpy(), v.to_numpy()))
        n = len(order)
        if n == 1:
            return np.zeros(1, dtype=bool), order
        pr = np.arange(n) / (n - 1)
        keep = (pr >= 0.1) & (pr <= 0.9)
        return keep, order

    def trimmed_mean(v, eid):
        keep, order = kept_mask(v, eid)
        vv = v.to_numpy()[order][keep]
        if len(vv) == 0:
            return None
        cents = np.floor(vv * 10000 + 0.5).astype("int64").sum()
        return float(cents) / (10000.0 * len(vv))

    def trimmed_count(v, eid):
        keep, _ = kept_mask(v, eid)
        return int(keep.sum())

    trimmed_mean.__annotations__ = {
        "v": pd.Series, "eid": pd.Series, "return": float
    }
    trimmed_count.__annotations__ = {
        "v": pd.Series, "eid": pd.Series, "return": int
    }
    mean_udaf = pandas_udf(trimmed_mean, "double")
    count_udaf = pandas_udf(trimmed_count, "long")

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    return (
        ev.groupBy("event_type")
        .agg(
            count_udaf(F.col("value"), F.col("event_id")).alias("n_kept"),
            mean_udaf(F.col("value"), F.col("event_id")).alias(
                "trimmed_mean"
            ),
        )
        # oracle's WHERE pr BETWEEN .1 AND .9 makes fully-trimmed
        # groups (1- and 2-row) disappear; mirror that here
        .filter(F.col("n_kept") > 0)
        .orderBy("event_type")
    )


@_register(
    "seasonal_decompose",
    f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
               / (10000.0 * count(*)) AS v
      FROM events GROUP BY 1, 2
    ), tr AS (
      SELECT *,
             avg(CAST(floor(v * 10000 + 0.5) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               / 10000.0 AS trend
      FROM daily
    ), se AS (
      SELECT *,
             avg(CAST(floor((v - trend) * 1000000 + 0.5) AS BIGINT)) OVER (
               PARTITION BY event_type, dayofweek(day))
               / 1000000.0 AS seasonal
      FROM tr
    )
    SELECT event_type, day,
           {sql_dround('v', 4)} AS daily,
           {sql_dround('trend', 4)} AS trend,
           {sql_dround('seasonal', 4)} AS seasonal,
           {sql_dround('v - trend - seasonal', 4)} AS resid
    FROM se
    ORDER BY event_type, day
    """,
    doc="Classical additive seasonal decomposition (the moving-average "
    "half of STL) per series: trend = centered 7-day rolling mean of "
    "the daily aggregate, seasonal = day-of-week mean of the "
    "detrended values, residual = remainder — the anomaly-detection "
    "preprocessor for any daily KPI. Three aggregation levels, each "
    "fixed-pointed before its sum (daily cents, trend and seasonal "
    "as integer-lattice averages) so every engine adds exact "
    "integers and divides identical doubles. Day-of-week is only a "
    "PARTITION key, so Spark's 1=Sunday vs DuckDB's 0=Sunday origin "
    "difference is immaterial (same equivalence classes). At 100 TB "
    "the daily agg is the only corpus-sized shuffle; the windows "
    "run over per-type day counts (bounded state).",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    fix = lambda c, s: F.floor(c * s + 0.5).cast("long")  # noqa: E731
    daily = ev.groupBy("event_type", "day").agg(
        (
            F.sum(fix(F.col("value"), 10000))
            / (10000.0 * F.count(F.lit(1)))
        ).alias("v")
    )
    w_tr = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.withColumn(
        "trend", F.avg(fix(F.col("v"), 10000)).over(w_tr) / 10000.0
    )
    w_se = Window.partitionBy("event_type", F.dayofweek("day"))
    se = tr.withColumn(
        "seasonal",
        F.avg(fix(F.col("v") - F.col("trend"), 1000000)).over(w_se)
        / 1000000.0,
    )
    return se.select(
        "event_type",
        "day",
        dround(F.col("v"), 4).alias("daily"),
        dround(F.col("trend"), 4).alias("trend"),
        dround(F.col("seasonal"), 4).alias("seasonal"),
        dround(
            F.col("v") - F.col("trend") - F.col("seasonal"), 4
        ).alias("resid"),
    ).orderBy("event_type", "day")


@_register(
    "bigram_logprob_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS t FROM documents
    ), base AS (
      SELECT doc_id, t FROM toks WHERE len(t) >= 2
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(t) - 1), i -> t[i])) AS w1,
             unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1])) AS b
      FROM base
    ), bc AS (
      SELECT b, count(*) AS bc FROM bg GROUP BY b
    ), uc AS (
      SELECT w1, count(*) AS uc FROM bg GROUP BY w1
    ), vocab AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM toks)
    ), scored AS (
      SELECT bg.doc_id,
             {sql_dround('ln((bc.bc + 1.0) / (uc.uc + vocab.v))', 6)} AS lp
      FROM bg JOIN bc USING (b) JOIN uc USING (w1) CROSS JOIN vocab
    )
    SELECT doc_id, count(*) AS n_bigrams,
           {sql_dround('sum(lp)', 6)} / count(*) AS mean_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Bigram language-model quality score with add-one smoothing — "
    "the conditional-probability upgrade of unigram_logprob_quality "
    "(one rung up the CCNet/KenLM ladder): each doc's mean "
    "ln P(w_i | w_{{i-1}}) under the corpus's own bigram counts. "
    "Bigrams build JVM-side (zip_with over sliced token arrays, no "
    "Python); the bigram count table is checkpointed and the "
    "context counts are DERIVED from it (uc(w1) = Σ bc — "
    "vocabulary-sized input) rather than re-aggregating the corpus "
    "positions a second time; the vocabulary size folds in via the "
    "data-derived constant-key broadcast. Per-position log-probs "
    "are dround(6)-fixed BEFORE the per-doc sum. At 100 TB the "
    "count tables are vocabulary-bounded (distinct bigrams ≪ corpus "
    "positions) — broadcastable or bucketed — and the only "
    "corpus-sized exchange is the one bigram count aggregation.",
    parts=8,
)
def q_bigram_logprob_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = docs.select("doc_id", _word_toks().alias("t")).filter(
        F.size("t") >= 2
    )
    bgrows = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(
                    a.alias("w1"),
                    F.concat(a, F.lit(" "), b).alias("b"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.w1").alias("w1"), F.col("x.b").alias("b"))
    # one corpus-sized count shuffle, not two (r12, guide §2.3/§2.4):
    # the bigram count table is vocabulary-bounded, so checkpoint it
    # and derive the context counts FROM it (uc(w1) = Σ bc over
    # bigrams starting with w1 — tokens are whitespace-split, so the
    # first space in `b` delimits w1 exactly) instead of re-running
    # the corpus tokenize+explode through a second corpus-wide
    # aggregation. Counts are identical integers; values unchanged.
    bc = (
        bgrows.groupBy("b")
        .agg(F.count(F.lit(1)).alias("bc"))
        .transform(stage_boundary)
    )
    uc = (
        bc.groupBy(F.substring_index("b", " ", 1).alias("w1"))
        .agg(F.sum("bc").alias("uc"))
    )
    vocab = (
        docs.select("doc_id", _word_toks().alias("t"))
        .select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
        .withColumn("__k", _const_key(F.col("v")))
    )
    uc_v = (
        uc.withColumn("__k", _const_key(F.col("w1")))
        .join(F.broadcast(vocab), "__k")
        .drop("__k")
    )
    scored = (
        bgrows.join(uc_v, "w1")
        .join(bc, "b")
        .select(
            "doc_id",
            dround(
                F.log((F.col("bc") + 1.0) / (F.col("uc") + F.col("v"))), 6
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (dround(F.sum("lp"), 6) / F.count(F.lit(1))).alias(
                "mean_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@_register(
    "media_image_resize",
    None,  # byte-level pixel resample → not ANSI-SQL-expressible
    doc="Distributed image resize under the driver gate — the "
    "byte-touching half of the multimodal resize path "
    "(resize_metadata plans target dims JVM-side; this executes "
    "the resample): 48 genuine 24-bit BMP payloads are synthesized "
    "from the events table (gradient + stripe pattern keyed by "
    "event value), decoded with the stdlib BMP codec, downscaled "
    "by exact nearest-neighbor sampling (multimodal.resize_nearest) "
    "inside one mapInPandas pass, and reduced to per-asset "
    "dimensions + mean-luma stats. Payloads never leave the "
    "executor: the map emits only small numeric rows, the shape a "
    "100 TB thumbnail/feature job must have. Deterministic end to "
    "end (integer source-index sampling), so row values are stable "
    "across runs; correctness of the kernel itself is pinned "
    "against a pure-numpy reference in tests/test_multimodal.py.",
    parts=8,
)
def q_media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from yahoofinancedatalake_spark.operators import (  # noqa: PLC0415
        multimodal as mm,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 48)
        .select("event_id", "value")
    )

    def synth_bmp(w, h, seed_val):
        # deterministic gradient + vertical stripe keyed by the value
        xx, yy = np.meshgrid(np.arange(w), np.arange(h))
        r = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
        g = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
        b = np.where(
            (xx + int(abs(seed_val)) % w) % 4 < 2, 255, 0
        ).astype(np.uint8)
        px = np.stack([r, g, b], axis=-1)  # RGB
        row_bytes = (w * 3 + 3) & ~3
        pad = row_bytes - w * 3
        body = b"".join(
            px[y, :, ::-1].tobytes() + b"\x00" * pad  # BGR rows
            for y in range(h - 1, -1, -1)  # bottom-up
        )
        hdr = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(body), 2835, 2835, 0, 0)
        )
        return hdr + body

    def pipeline(batches):
        for pdf in batches:
            out = []
            for mid, val in zip(pdf["event_id"], pdf["value"]):
                payload = synth_bmp(12, 9, float(val))
                px = mm.bmp_decode(payload)
                small = mm.resize_nearest(px, 6)
                luma = (
                    0.2126 * px[..., 0].astype(np.float64)
                    + 0.7152 * px[..., 1]
                    + 0.0722 * px[..., 2]
                )
                sl = (
                    0.2126 * small[..., 0].astype(np.float64)
                    + 0.7152 * small[..., 1]
                    + 0.0722 * small[..., 2]
                )
                out.append(
                    (
                        int(mid),
                        px.shape[1],
                        px.shape[0],
                        small.shape[1],
                        small.shape[0],
                        float(np.floor(luma.mean() * 100 + 0.5) / 100),
                        float(np.floor(sl.mean() * 100 + 0.5) / 100),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height",
                    "resized_width", "resized_height",
                    "luma_full", "luma_resized",
                ],
            )

    return events.mapInPandas(
        pipeline,
        schema=(
            "media_id long, width int, height int, resized_width int, "
            "resized_height int, luma_full double, luma_resized double"
        ),
    ).orderBy("media_id")


@_register(
    "sliding_distinct_users_7d",
    """
    WITH days AS (
      SELECT DISTINCT event_type, date_trunc('day', ts) AS day
      FROM events
    ), tri AS (
      SELECT DISTINCT event_type, user_id,
             date_trunc('day', ts) AS day
      FROM events
    ), contrib AS (
      SELECT DISTINCT t.event_type, t.user_id, d.day AS window_end
      FROM tri t JOIN days d
        ON d.event_type = t.event_type
       AND d.day BETWEEN t.day AND t.day + INTERVAL 6 DAY
    )
    SELECT event_type, window_end, count(DISTINCT user_id) AS n_users
    FROM contrib
    GROUP BY event_type, window_end
    ORDER BY event_type, window_end
    """,
    doc="Trailing-7-day distinct active users per type per day — the "
    "sliding-window COUNT DISTINCT that window functions cannot "
    "express (DISTINCT isn't frame-mergeable). The scale-correct "
    "plan: dedup events to (type, user, day) triples FIRST (the "
    "corpus-sized shuffle happens on the small deduped key set), "
    "then each triple explodes to the ≤7 window-ends it feeds — a "
    "bounded 7× fan-out of the TRIPLES, not the events — and a "
    "semi-join against observed days prunes phantom window ends. "
    "Contrast with hll_partial_rollup, which answers the same "
    "question approximately with mergeable sketches and no fan-out; "
    "this is the exact twin. The DuckDB oracle states the semantics "
    "as a range join; the engine form is the explode (equi-joins "
    "only — a range join would re-scan per window).",
)
def q_sliding_distinct_users_7d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
    )
    tri = ev.dropDuplicates(["event_type", "user_id", "day"])
    days = ev.select("event_type", "day").dropDuplicates()
    contrib = tri.select(
        "event_type",
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("window_end"),
    ).join(
        days.withColumnRenamed("day", "window_end"),
        ["event_type", "window_end"],
        "left_semi",
    )
    return (
        contrib.groupBy("event_type", "window_end")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type", "window_end")
    )


@_register(
    "chunk_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), base AS (
      SELECT doc_id, tokens, len(tokens) AS n
      FROM toks WHERE len(tokens) >= 1
    ), chunks AS (
      SELECT doc_id,
             unnest(generate_series(0, n - 1, {_CHUNK_S})) AS st,
             tokens, n
      FROM base
    ), hashed AS (
      SELECT doc_id, st,
             md5(array_to_string(
               tokens[st + 1 : st + {_CHUNK_W}], ' ')) AS h
      FROM chunks
    ), ranked AS (
      SELECT doc_id, st, h,
             row_number() OVER (
               PARTITION BY h ORDER BY doc_id, st) AS rn
      FROM hashed
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           {sql_dround(
               "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)"
               " * 1.0 / count(*)", 4)} AS kept_frac
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Chunk-level exact dedup across documents — the "
    "paragraph-dedup recipe (RefinedWeb/CCNet drop repeated "
    "paragraphs CORPUS-wide, not just whole-doc dups) applied to "
    "the engine's token-window chunks: hash every chunk, keep the "
    "first occurrence per hash (deterministic (doc_id, offset) "
    "order), report each doc's surviving fraction — the signal that "
    "flags boilerplate-heavy sources before training. Plan: chunks "
    "build map-side (same zero-shuffle shape as doc_chunking), the "
    "only corpus-sized exchange is the hash window, whose per-key "
    "state is the duplicate multiplicity. At 100 TB the md5 (16 "
    "bytes) replaces chunk text through the shuffle.",
    parts=8,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = (
        docs.select("doc_id", _word_toks().alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    hashed = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_S))
        ).alias("st"),
        "toks",
    ).select(
        "doc_id",
        "st",
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("st") + 1, F.lit(_CHUNK_W)),
                " ",
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "st")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            kept.alias("n_kept"),
            dround(
                kept * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("kept_frac"),
        )
        .orderBy("doc_id")
    )


@_register(
    "asof_forward_attribution",
    """
    SELECT a.event_id, a.user_id, a.ts,
           b.ts AS matched_ts, b.value AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND b.ts >= a.ts
    """,
    doc="Forward as-of join: every view gets the user's NEXT purchase "
    "(value + timestamp) — the attribution question asked "
    "forward in time, completing the merge_asof direction family "
    "(asof_purchase_value covers backward; nearest is "
    "pandas-cross-checked in tests/test_asof.py). Same one-exchange "
    "union + running-window plan, with the frame flipped to "
    "[current, +inf) and the tie order inverted so an equal-ts "
    "purchase still matches (inclusive). Oracle: DuckDB ASOF LEFT "
    "JOIN with the >= inequality, which selects the nearest "
    "FOLLOWING right row.",
)
def q_asof_forward_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from yahoofinancedatalake_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        views,
        purchases,
        on=["user_id"],
        ts_col="ts",
        value_cols=["value"],
        direction="forward",
    ).withColumnRenamed("value", "next_purchase_value")


@_register(
    "char_entropy_quality",
    f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c
      FROM documents WHERE text <> ''
    ), cnt AS (
      SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
    ), tot AS (
      SELECT doc_id, k,
             sum(k) OVER (PARTITION BY doc_id) AS n
      FROM cnt
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_chars_counted,
           {sql_dround(
               "sum(" + sql_dround(
                   "-(k * 1.0 / n) * ln(k * 1.0 / n)", 6) + ")", 4)}
             AS entropy
    FROM tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Character-level Shannon entropy per document — the "
    "third independent quality axis next to the LM scores "
    "(distributional fit) and repetition fractions (local "
    "structure): encrypted/binary-ish junk scores near the uniform "
    "maximum, single-character spam near zero, natural text in a "
    "narrow band — a cheap screen both tails fail. Per-class "
    "-p·ln p terms are dround(6)-fixed before the per-doc sum "
    "(p = k/n is an exact integer quotient in both engines). Plan: "
    "one (doc, char) count — alphabet-bounded per doc — and a "
    "doc-partitioned window; a single exchange on doc_id at any "
    "scale.",
    parts=8,
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    # empty-string text filtered on BOTH sides: DuckDB's
    # string_split('','') yields [''] (a phantom 1-char doc) where
    # Spark's split produces only removable empties — excluding
    # empty docs up front keeps the engines aligned AND entropy
    # well-defined
    ch = (
        docs.filter(F.col("text") != "")
        .select(
            "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
        )
        .filter(F.col("c") != "")
    )
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.partitionBy("doc_id")
    tot = cnt.withColumn("n", F.sum("k").over(w))
    p = F.col("k") * 1.0 / F.col("n")
    term = dround(-p * F.log(p), 6)
    return (
        tot.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars_counted"),
            dround(F.sum(term), 4).alias("entropy"),
        )
        .orderBy("doc_id")
    )


@_register(
    "top_revenue_suppliers",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                            * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ), mx AS (
      SELECT max(total_cents) AS m FROM rev
    )
    SELECT s.s_suppkey, s.s_name, rev.total_cents
    FROM rev CROSS JOIN mx
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_cents = mx.m
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 shape (top supplier): quarterly revenue per "
    "supplier, then ONLY the supplier(s) achieving the maximum — "
    "the aggregate-of-aggregate pattern where the inner result is "
    "consumed twice (once to find the max, once to filter). The "
    "1-row max folds back via the data-derived constant-key "
    "broadcast; revenue accumulates as exact integer cents so "
    "'equal to the max' is a well-defined predicate (a float "
    "revenue tie is engine-dependent at the last ulp — the "
    "original Q15's VIEW formulation has exactly this trap). At "
    "100 TB the per-supplier agg is the only corpus-sized "
    "exchange; rev is supplier-cardinality and re-used, not "
    "recomputed, in both consumers.",
)
def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(cents).alias("total_cents"))
    )
    mx = rev.agg(F.max("total_cents").alias("m")).withColumn(
        "__k", _const_key(F.col("m"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.withColumn("__k", _const_key(F.col("l_suppkey")))
        .join(F.broadcast(mx), "__k")
        .filter(F.col("total_cents") == F.col("m"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


@_register(
    "small_quantity_revenue",
    """
    WITH pavg AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT count(*) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS price_cents
    FROM lineitem l
    JOIN pavg ON pavg.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < pavg.threshold
    """,
    doc="TPC-H Q17 shape (small-quantity orders): lines of one brand "
    "below 20% of their part's average quantity — the correlated "
    "scalar aggregate (per-part avg) decorrelated into a group-by "
    "plus self-join, the rewrite Catalyst itself applies to "
    "correlated subqueries. The avg-based threshold is "
    "engine-exact without any fixing: quantities are integers, so "
    "the per-part sum is an exact integer in IEEE double REGARDLESS "
    "of partition sum order (every intermediate < 2^53), and "
    "0.2 · (exact/n) is the same double on both engines. At 100 TB "
    "both lineitem passes bucket by partkey (one co-partitioned "
    "layout serves the agg and the join); the brand filter "
    "broadcasts.",
)
def q_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pavg = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("threshold")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    return (
        li.join(pavg, "l_partkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents).alias("price_cents"),
        )
    )


@_register(
    "grouping_sets_custom",
    """
    SELECT grouping(event_type) * 2 + grouping(first_half) AS gid,
           event_type, first_half,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS v_fix
    FROM (
      SELECT event_type, day(ts) <= 15 AS first_half, value
      FROM events
    )
    GROUP BY GROUPING SETS ((event_type), (first_half), ())
    ORDER BY gid, event_type, first_half
    """,
    doc="Explicit GROUPING SETS — the third member of the family next "
    "to ROLLUP (rollup_order_totals) and CUBE (cube_event_stats): an "
    "arbitrary, non-hierarchical set list ((type), (half-month), "
    "()) that neither shorthand generates, labeled with GROUPING() "
    "so consumers can tell a grouped-out NULL from a data NULL — "
    "the detail the raw NULL-filled output loses. One pass, one "
    "Expand (allowlisted: the Expand IS the operator), identical "
    "set semantics in both engines. The grand-total row makes the "
    "single-pass property visible: three aggregation granularities, "
    "one scan.",
)
def q_grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofmonth("ts") <= 15).alias("first_half"),
        "value",
    )
    ev.createOrReplaceTempView("__gs_events")
    # DataFrame API has rollup/cube but no arbitrary grouping sets —
    # SQL is the surface for the general form
    return spark.sql(
        """
        SELECT grouping(event_type) * 2 + grouping(first_half) AS gid,
               event_type, first_half,
               count(*) AS n,
               sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS v_fix
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (first_half), ())
        ORDER BY gid, event_type, first_half
        """
    )


@_register(
    "map_hof_kit",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           count(*) AS n_days,
           CAST(sum(CASE WHEN cnt >= 66 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_busy_days,
           CAST(sum(cnt) * 2 AS BIGINT) AS doubled_total
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Map higher-order-function kit (completing the HOF surface "
    "next to array_hof_kit): per type, daily counts are packed into "
    "a day→count MAP column (map_from_entries over collect_list), "
    "then interrogated with map_filter (busy days), transform_values "
    "(doubling), map_values + aggregate (total) — the Spark ops a "
    "feature-store 'latest map per key' column needs. The DuckDB "
    "oracle states the same scalars straight off the daily table: "
    "the map is REPRESENTATION, not semantics, and the hash gate "
    "proves the round-trip through the map ops loses nothing. "
    "Map columns stay executor-side; only small scalars leave.",
    parts=8,
)
def q_map_hof_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    packed = daily.groupBy("event_type").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("day", "cnt")))
        ).alias("m")
    )
    busy = F.map_filter(F.col("m"), lambda k, v: v >= 66)
    doubled = F.transform_values(F.col("m"), lambda k, v: v * 2)
    return packed.select(
        "event_type",
        F.size("m").alias("n_days"),
        F.size(busy).alias("n_busy_days"),
        F.aggregate(
            F.map_values(doubled), F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("doubled_total"),
    ).orderBy("event_type")


@_register(
    "media_frame_sample",
    f"""
    WITH base AS (
      SELECT event_id AS media_id,
             32 + (event_id % 5) * 16 AS n_frames
      FROM events WHERE event_id < 40
    ), frames AS (
      SELECT media_id, n_frames,
             unnest(generate_series(0, n_frames - 1, 10)) AS frame_index
      FROM base
    )
    SELECT media_id, frame_index,
           least(16, 64 - (frame_index % 64)) AS n_frame_bytes
    FROM frames
    ORDER BY media_id, frame_index
    """,
    doc="Video frame-sampling plumbing under the driver gate "
    "(previously pytest-only): every-Nth-frame selection of video "
    "assets via the mapInPandas path (multimodal.sample_frames) — "
    "the row explosion happens INSIDE the Arrow batch, so full "
    "frames never ship through a JVM explode; emitted rows carry "
    "only (media_id, frame_index, frame_bytes). The frame decode "
    "itself is the documented stub (deterministic byte slice — "
    "pyav territory); what the oracle CAN check exactly is the "
    "sampling contract: which frame indices surface per asset and "
    "the sampled-frame byte length, replayed by a SQL "
    "generate_series. Payload synthesized from events metadata "
    "(n_frames keyed by event_id), 40 assets.",
    parts=8,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators import (  # noqa: PLC0415
        multimodal as mm,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 40)
        .select(
            F.col("event_id").alias("media_id"),
            F.lit("video").alias("kind"),
            # deterministic fake payload bytes; the decode step is the
            # documented stub, the SAMPLING contract is what's gated
            F.encode(
                F.rpad(
                    F.concat(F.lit("payload_"), F.col("event_id")), 64, "x"
                ),
                "utf-8",
            ).alias("content"),
            (32 + (F.col("event_id") % 5) * 16)
            .cast("int")
            .alias("n_frames"),
        )
    )
    sampled = mm.sample_frames(events, every_nth=10)
    return sampled.select(
        "media_id",
        "frame_index",
        F.length("frame_bytes").cast("int").alias("n_frame_bytes"),
    ).orderBy("media_id", "frame_index")


@_register(
    "important_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT sum(value_cents) AS t, count(*) AS n FROM pv
    )
    SELECT pv.l_partkey, pv.value_cents
    FROM pv CROSS JOIN tot
    WHERE pv.value_cents * tot.n * 2 > 3 * tot.t
    ORDER BY pv.value_cents DESC, pv.l_partkey
    """,
    doc="TPC-H Q11 shape (important stock): parts whose total line "
    "value exceeds 1.5x the mean per-part value — HAVING against "
    "scalar aggregates of the same aggregation, the "
    "fraction-of-total filter every concentration report needs "
    "(stated relative to the mean so the selectivity is "
    "scale-free: a fixed global fraction returns nothing once the "
    "part count outgrows it). "
    "The per-part aggregate is computed ONCE and consumed twice "
    "(summed to the total, filtered against it); the 1-row total "
    "folds back via the constant-key broadcast. The comparison is "
    "integer cross-multiplication (2·value·n > 3·total) — no "
    "floating division, so the threshold is exact at any scale. At "
    "100 TB the partkey agg is the only corpus-sized exchange.",
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    # checkpointed so "computed ONCE, consumed twice" is true in the
    # physical plan too (r12): un-materialized, the total re-scanned
    # and re-aggregated lineitem a second time
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_cents"))
        .transform(stage_boundary)
    )
    tot = pv.agg(
        F.sum("value_cents").alias("t"), F.count(F.lit(1)).alias("n")
    ).withColumn("__k", _const_key(F.col("t")))
    return (
        pv.withColumn("__k", _const_key(F.col("l_partkey")))
        .join(F.broadcast(tot), "__k")
        .filter(F.col("value_cents") * F.col("n") * 2 > 3 * F.col("t"))
        .select("l_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), F.col("l_partkey"))
    )


@_register(
    "supplier_variety",
    """
    SELECT p.p_type, p.p_size % 10 AS size_mod,
           count(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE NOT EXISTS (
      SELECT 1 FROM supplier s
      WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0
    )
    GROUP BY p.p_type, size_mod
    ORDER BY p.p_type, size_mod
    """,
    doc="TPC-H Q16 shape (supplier variety): distinct suppliers per "
    "(type, size-class) EXCLUDING a blacklist derived from another "
    "table (negative-balance suppliers standing in for Q16's "
    "complaint-pattern NOT IN). The exclusion is an anti-join "
    "against the tiny filtered dim — never a NOT IN subquery per "
    "row — and the distinct count shuffles on the composite group "
    "key. At 100 TB the blacklist broadcasts, part broadcasts, and "
    "the (group, suppkey) dedup is the only corpus-sized exchange.",
)
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_type", (F.col("p_size") % 10).alias("size_mod")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "size_mod")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .orderBy("p_type", "size_mod")
    )


@_register(
    "datasketches_kit",
    """
    SELECT event_type AS item, count(*) AS cnt, TRUE AS hll_ok
    FROM events GROUP BY event_type
    ORDER BY cnt DESC, item
    """,
    doc="Apache DataSketches SQL surface (Spark 4's sketch family "
    "beyond approx_count_distinct/percentile_approx): approx_top_k "
    "heavy hitters and hll_sketch_agg/hll_sketch_estimate distinct "
    "counting, both MERGEABLE sketches — the property that makes "
    "them the 100 TB answer (map-side partials union losslessly; "
    "the exact top-k needs a full groupBy first). Gated exactly "
    "where exactness is guaranteed: with the tracked-item budget "
    "above the domain size, approx_top_k's counts ARE exact and "
    "hash-match the SQL counts (k also covers the domain, so no "
    "k-boundary tie can be resolved sketch-internally against the "
    "oracle's lexicographic break); the HLL estimate is "
    "bounds-checked (±5% of the exact distinct plus an absolute "
    "slack of 6, computed in the same pass) and "
    "reported as a boolean the oracle pins TRUE — the same "
    "gate-the-approximation pattern as approx_distinct_per_day, "
    "cms_heavy_hitters, and approx_quantile_gate.",
)
def q_datasketches_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    agg = ev.agg(
        # k covers the whole (small) domain: a tied count at the
        # k-boundary is resolved sketch-internally, NOT pinned by the
        # oracle's lexicographic tie-break — covering the domain makes
        # the result set tie-free by construction while still gating
        # the sketch's exact-count guarantee
        F.expr("approx_top_k(event_type, 10)").alias("topk"),
        F.expr(
            "hll_sketch_estimate(hll_sketch_agg(user_id, 12))"
        ).alias("est"),
        F.countDistinct("user_id").alias("exact"),
    )
    # relative bound + absolute slack, the approx_distinct_per_day
    # pattern: at tiny cardinalities 5% of exact is < 1 and would
    # demand bit-exactness from an estimator
    hll_ok = (
        F.abs(F.col("est") - F.col("exact"))
        <= 0.05 * F.col("exact") + 6
    ).alias("hll_ok")
    return (
        agg.select(F.explode("topk").alias("e"), hll_ok)
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").alias("cnt"),
            "hll_ok",
        )
        .orderBy(F.col("cnt").desc(), F.col("item"))
    )


def _bpe_pieces(spark: SparkSession, sf_dir: str):
    """Shared BPE pipeline: train merges on the corpus vocabulary
    (driver-side, vocabulary-sized — see functions/bpe.py), encode
    every doc distributed. Returns (docs-with-pieces, merges)."""
    from yahoofinancedatalake_spark.functions.bpe import (  # noqa: PLC0415
        bpe_encode_udf,
        corpus_word_freqs,
        train_bpe,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = docs.select("doc_id", _word_toks().alias("toks")).filter(
        F.size("toks") >= 1
    )
    freqs = corpus_word_freqs(base, F.col("toks"))
    merges = train_bpe(freqs, n_merges=60)
    enc = bpe_encode_udf(merges)
    return base.withColumn("pieces", enc(F.col("toks"))), merges


@_register(
    "bpe_token_count",
    None,  # iterative merge replay → not ANSI-SQL-expressible
    doc="REAL byte-pair encoding under the driver gate (upgrading "
    "token_count's BPE-STYLE pre-token regex to the actual merge "
    "algorithm): 60 merges trained on the corpus's own "
    "word-frequency table (driver-side on the vocabulary-sized "
    "aggregate — the IVF-training placement argument; GPT-2's 50k "
    "merges are trained exactly once on exactly this shape), then "
    "every document encoded distributed via an Arrow-batched "
    "encoder with a per-executor word memo (Zipfian reuse → memo "
    "hit rate ≈ 1). Output: per-doc word count, BPE piece count, "
    "and the pieces-per-word compression ratio — the token-budget "
    "number a training-data pipeline actually bills by. "
    "Deterministic (lexicographic tie-break in training) but "
    "iterative, hence rows-only; the algebraic invariants are "
    "hash-gated by bpe_roundtrip_gate and the trainer/encoder pair "
    "is cross-checked against a pure-python reference in pytest.",
    parts=8,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc, _ = _bpe_pieces(spark, sf_dir)
    return enc.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.size("pieces").alias("n_bpe_tokens"),
        dround(
            F.size("pieces") / F.size("toks").cast("double"), 4
        ).alias("pieces_per_word"),
    ).orderBy("doc_id")


@_register(
    "bpe_roundtrip_gate",
    "SELECT 'bpe_roundtrip' AS metric, TRUE AS passed",
    doc="BPE correctness gate (the approximation-family pattern "
    "applied to a tokenizer): over EVERY document, (1) lossless "
    "round-trip — concatenating each doc's BPE pieces and deleting "
    "the end-of-word sentinels must reproduce exactly the "
    "concatenation of its words (checked distributed with one "
    "string comparison per doc), and (2) compression sanity — "
    "piece count per doc is never below the word count's lower "
    "bound (one piece per word) nor above characters+words (the "
    "no-merge ceiling). A tokenizer that drops, duplicates, or "
    "reorders a single character anywhere in the corpus fails the "
    "gate; the driver's oracle pins passed=TRUE.",
    parts=8,
)
def q_bpe_roundtrip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.functions.bpe import EOW  # noqa: PLC0415

    enc, _ = _bpe_pieces(spark, sf_dir)
    joined_words = F.array_join(F.col("toks"), "")
    rebuilt = F.replace(
        F.array_join(F.col("pieces"), ""), F.lit(EOW), F.lit("")
    )
    n_chars = F.length(joined_words)
    ok = (
        (rebuilt == joined_words)
        & (F.size("pieces") >= F.size("toks"))
        & (F.size("pieces") <= n_chars + F.size("toks"))
    )
    return enc.agg(
        F.lit("bpe_roundtrip").alias("metric"),
        F.min(ok.cast("boolean")).alias("passed"),
    )


@_register(
    "cluster_canonical_docs",
    None,  # filled in below — composes the dedup_clusters oracle
    doc="Canonical-document selection per near-dup cluster: the "
    "keep-LONGEST policy (the common production alternative to "
    "prep.py's keep-min-id — longer near-dups usually carry the "
    "superset content), expressed as an arg-max window over the "
    "connected components joined with doc length. Output: one row "
    "per multi-member cluster with its canonical doc, member count, "
    "and the characters the policy keeps vs the cluster total — the "
    "audit numbers a dedup run reports. Oracle: the SAME recursive-"
    "CTE component closure as dedup_clusters, wrapped with the "
    "identical join+argmax — policy change is pure relational "
    "algebra on top of the verified cluster labels. At 100 TB the "
    "extra cost over dedup_clusters is one broadcast join against "
    "doc metadata and a window over cluster-sized groups.",
    parts=8,
)
def q_cluster_canonical_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs_meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    cc = QUERIES["dedup_clusters"].spark(spark, sf_dir)
    labeled = cc.join(F.broadcast(docs_meta), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = labeled.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
                "kept_chars"
            ),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("cluster_id")
    )


# the oracle wraps dedup_clusters' recursive-CTE closure with the same
# join + argmax; registered after the fact because it references the
# already-registered oracle text
QUERIES["cluster_canonical_docs"] = Query(
    name="cluster_canonical_docs",
    spark=QUERIES["cluster_canonical_docs"].spark,
    doc=QUERIES["cluster_canonical_docs"].doc,
    oracle=f"""
    WITH labeled AS (
      SELECT t.doc_id, t.cluster_id, d.n_chars,
             row_number() OVER (
               PARTITION BY t.cluster_id
               ORDER BY d.n_chars DESC, t.doc_id ASC) AS rn
      FROM ({QUERIES["dedup_clusters"].oracle}) t
      JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           count(*) AS n_members,
           max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
           max(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM labeled
    GROUP BY cluster_id
    HAVING count(*) > 1
    ORDER BY cluster_id
    """,
)


@_register(
    "set_ops_kit",
    """
    WITH p1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ), p2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    )
    SELECT 'both' AS segment, user_id
    FROM (SELECT user_id FROM p1 INTERSECT SELECT user_id FROM p2)
    UNION ALL
    SELECT 'p1_only', user_id
    FROM (SELECT user_id FROM p1 EXCEPT SELECT user_id FROM p2)
    UNION ALL
    SELECT 'p2_only', user_id
    FROM (SELECT user_id FROM p2 EXCEPT SELECT user_id FROM p1)
    ORDER BY segment, user_id
    """,
    doc="Set operators completing §2.7 (union_split covers UNION): "
    "INTERSECT and EXCEPT between two periods' user sets, labeled "
    "into the churn segmentation every retention report starts from "
    "(retained / churned / new). Spark plans INTERSECT as a "
    "LeftSemi and EXCEPT as a LeftAnti over the deduped inputs — "
    "set semantics as joins, shuffling only the distinct keys; "
    "contrast with period_reconcile_full_outer, which answers the "
    "same comparison via one FULL OUTER join when per-side "
    "aggregates are also wanted. At 100 TB all three branches reuse "
    "the two deduped key sets.",
)
def q_set_ops_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cut = "2024-01-16 00:00:00"
    p1 = ev.filter(F.col("ts") < cut).select("user_id").distinct()
    p2 = ev.filter(F.col("ts") >= cut).select("user_id").distinct()
    both = p1.intersect(p2).select(
        F.lit("both").alias("segment"), "user_id"
    )
    only1 = p1.exceptAll(p2).select(
        F.lit("p1_only").alias("segment"), "user_id"
    )
    only2 = p2.exceptAll(p1).select(
        F.lit("p2_only").alias("segment"), "user_id"
    )
    return both.unionByName(only1).unionByName(only2).orderBy(
        "segment", "user_id"
    )


