"""Round-6 wave: heavy hitters, retrieval fusion, trend/drift/changepoint monitors, recursive growth (split from pack.py, r7 — pure refactor; r7 adds ``theilsen_trend_sampled``).

Registers 16 queries (registration order is the
import order in pack.py):
- ``heavy_hitters_2pass``
- ``hybrid_rrf_search``
- ``trend_ols_daily``
- ``ngram_novelty``
- ``audience_overlap``
- ``pareto_frontier``
- ``recursive_compound_growth``
- ``mannwhitney_drift``
- ``benford_digits``
- ``domain_cap_sample``
- ``chi2_independence``
- ``stream_chi2_drift_batch_eq``
- ``range_frame_trailing_7d``
- ``theilsen_trend_daily``
- ``mann_kendall_trend``
- ``cusum_changepoint``
- ``theilsen_trend_sampled`` (r7)
- ``psi_drift`` (r7)
- ``stream_psi_drift_batch_eq`` (r7, streaming rung 11)
- ``js_divergence_corpora`` (r7)
- ``seasonal_decompose_daily`` (r7)
- ``ann_ndcg`` (r7)
- ``seasonal_anomaly_days`` (r7)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.queries._registry import (
    _const_key,
    _register,
    _scratch,
)
from yahoofinancedatalake_spark.queries.pack_02_text import (
    _sql_wordlist,
)
from yahoofinancedatalake_spark.queries.pack_05_forecast_search import (
    _SEARCH_TERMS,
)
from yahoofinancedatalake_spark.queries.pack_07_training_prep import (
    _WORD_TOKS_SQL,
    _word_toks,
)
from yahoofinancedatalake_spark.session import stage_boundary


@_register(
    "heavy_hitters_2pass",
    """
    WITH c AS (
      SELECT o_custkey, count(*) AS cnt
      FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS d
      FROM c
    )
    SELECT o_custkey AS custkey, CAST(cnt AS BIGINT) AS cnt
    FROM c CROSS JOIN t
    WHERE 10 * cnt * d > 13 * n
    ORDER BY cnt DESC, custkey
    """,
    doc="EXACT heavy-key detection by the classic two-pass sketch "
    "recipe: pass 1 runs mergeable Misra-Gries (k counters per "
    "partition, operators/skew.py) whose union provably contains "
    "every key with global count > N/(k+1); pass 2 exactly counts "
    "ONLY those candidates (broadcast semi-join against the fact "
    "table) and keeps keys hotter than 1.3x the mean key load — "
    "the scale-invariant skew definition (10*cnt*D > 13*N in "
    "integer arithmetic), with k sized from the dimension "
    "cardinality so k+1 >= D/1.3 makes the MG guarantee cover the "
    "threshold. The ORACLE aggregates the full key domain "
    "directly, so the gate checks the sketch's no-loss guarantee "
    "plus the exactness of pass 2 — the candidate SET may vary "
    "with partitioning, the RESULT may not. At 100 TB pass 1 "
    "touches each row once with O(k) state and no shuffle, pass 2 "
    "shuffles only candidate-key rows — the full-domain "
    "aggregation the oracle runs is exactly what this plan "
    "avoids. Companion of key_skew_profile (which measures "
    "skew; this returns the culprit keys exactly).",
    parts=8,
)
def q_heavy_hitters_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.skew import (  # noqa: PLC0415
        misra_gries_candidates,
    )

    orders = load_table(spark, sf_dir, "orders")
    # k from the DIMENSION cardinality (an upper bound on the key
    # domain D): k+1 >= D/1.3 puts the MG miss threshold N/(k+1)
    # below the 1.3x-mean detection threshold. Metadata-scale count
    # (customer is the small dim), not a data collect.
    n_cust = load_table(spark, sf_dir, "customer").count()
    k = (10 * n_cust) // 13 + 1
    cands = misra_gries_candidates(orders, "o_custkey", k)
    exact = (
        orders.join(F.broadcast(cands), "o_custkey")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = (
        orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("d"),
        )
        .withColumn("__k", _const_key(F.col("n")))
    )
    return (
        exact.withColumn("__k", _const_key(F.col("o_custkey")))
        .join(F.broadcast(tot), "__k")
        .filter(
            F.lit(10) * F.col("cnt") * F.col("d")
            > F.lit(13) * F.col("n")
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), F.col("custkey"))
    )


@_register(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
      FROM (SELECT doc_id, unnest(tokens) AS t FROM toks)
      WHERE t IN ({_sql_wordlist(_SEARCH_TERMS)})
      GROUP BY doc_id
    ), lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY hits DESC, doc_id ASC) AS BIGINT) AS ra
      FROM hits
      QUALIFY ra <= 100
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), cos AS (
      SELECT e.vec_id AS doc_id,
             {sql_dround(
                 "list_dot_product(q.qv, e.embedding::DOUBLE[])"
                 " / (sqrt(list_dot_product(q.qv, q.qv))"
                 " * sqrt(list_dot_product(e.embedding::DOUBLE[],"
                 " e.embedding::DOUBLE[])))", 4)} AS c
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ), sem AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY c DESC, doc_id ASC) AS BIGINT) AS rb
      FROM cos
      QUALIFY rb <= 100
    )
    SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, ra, rb,
           coalesce(1.0 / (60 + ra), 0.0)
             + coalesce(1.0 / (60 + rb), 0.0) AS rrf
    FROM lex FULL OUTER JOIN sem USING (doc_id)
    ORDER BY rrf DESC, doc_id ASC
    LIMIT 15
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion (Cormack, "
    "Clarke & Buettcher SIGIR'09, the standard used by hybrid "
    "lexical+vector search engines): a lexical top-100 (query-term "
    "frequency, integer scores) and a semantic top-100 (cosine vs "
    "the anchor embedding, dround(4) before ranking) fuse as "
    "sum(1/(60+rank)) with a missing-list contribution of zero. "
    "Every rank is a row_number over a deterministic (score desc, "
    "id asc) order, and the RRF score is one fixed two-term IEEE "
    "sum of exact small-integer quotients — bit-identical across "
    "engines with no further rounding. Scale: both ranked lists "
    "are TOP-K-CAPPED (k=100) before fusion — the global ordering "
    "happens in a TakeOrdered over pre-filtered/scored rows (query-"
    "term rows only; one corpus scan for cosine), the fusion join "
    "touches at most 2k rows, exactly how a production RRF stage "
    "fuses retriever outputs regardless of corpus size.",
    parts=8,
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    hits = (
        docs.select("doc_id", F.explode(_word_toks()).alias("t"))
        .filter(F.col("t").isin(_SEARCH_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # top-100 caps: TakeOrderedAndProject keeps the global sort
    # bounded; row_number then runs over <=100 rows.
    lex = (
        hits.orderBy(F.col("hits").desc(), F.col("doc_id").asc())
        .limit(100)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("hits").desc(), F.col("doc_id")))
            .cast("bigint")
            .alias("ra"),
        )
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        _const_key(F.col("vec_id")).alias("__k"),
    )
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("__k", _const_key(F.col("vec_id")))
        .join(F.broadcast(qv), "__k")
        .select(
            F.col("vec_id").alias("doc_id"),
            dround(
                dot(F.col("qv"), F.col("embedding"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                ),
                4,
            ).alias("c"),
        )
    )
    sem = (
        cos.orderBy(F.col("c").desc(), F.col("doc_id").asc())
        .limit(100)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("doc_id")))
            .cast("bigint")
            .alias("rb"),
        )
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "ra",
            "rb",
            (
                F.coalesce(1.0 / (F.lit(60) + F.col("ra")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(60) + F.col("rb")), F.lit(0.0))
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(15)
    )


@_register(
    "trend_ols_daily",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS x,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events
      GROUP BY event_type, CAST(ts AS DATE)
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           {sql_dround(
               "CAST(n * sxy - sx * sy AS DOUBLE)"
               " / CAST(n * sxx - sx * sx AS DOUBLE)", 6)} AS slope,
           {sql_dround(
               "(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)"
               " / CAST(n * sxx - sx * sx AS DOUBLE))"
               " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)", 6)}
             AS intercept
    FROM s ORDER BY event_type
    """,
    doc="Per-group OLS trend line (daily revenue-cents vs day index, "
    "one line per event_type) computed from the five CLOSED-FORM "
    "sufficient statistics (n, sum x, sum y, sum xx, sum xy) — all "
    "exact BIGINT sums over integer inputs (cents fixed-pointed at "
    "the grain, day index an integer), so the normal-equation "
    "slope/intercept are single IEEE quotients of bit-identical "
    "integers on both engines; dround(6) on output only. The "
    "statistics family's regression member next to spearman_trend "
    "(rank correlation) and pairwise_correlation. Scale: two "
    "map-side-combinable aggregations (day grain, then group "
    "grain), zero windows, zero sorts — the sufficient-statistic "
    "formulation is WHY regression distributes: the 100 TB plan "
    "moves five numbers per group, not the series.",
    parts=8,
)
def q_trend_ols_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .select(
            "event_type",
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            "y",
        )
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope_raw = num / den
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        dround(slope_raw, 6).alias("slope"),
        dround(
            (
                F.col("sy").cast("double")
                - slope_raw * F.col("sx").cast("double")
            )
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
    ).orderBy("event_type")


@_register(
    "ngram_novelty",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest([tokens[i] || ' ' || tokens[i+1]
                     FOR i IN range(1, len(tokens))]) AS b
      FROM toks WHERE len(tokens) >= 2
    ), f AS (
      SELECT b, min(doc_id) AS first_doc FROM bg GROUP BY b
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = bg.doc_id
                 THEN 1 ELSE 0 END) AS BIGINT) AS novel,
           {sql_dround(
               "CAST(sum(CASE WHEN f.first_doc = bg.doc_id"
               " THEN 1 ELSE 0 END) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE)", 6)} AS novelty_ratio
    FROM bg JOIN f USING (b)
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    doc="Training-data op: per-document n-gram NOVELTY — the fraction "
    "of a doc's bigram occurrences whose corpus-wide first "
    "appearance (min doc_id, the ingestion-order tiebreak) is this "
    "doc. The self-repetition / boilerplate-accumulation signal "
    "dedup pipelines use to decide whether late-arriving shards "
    "still contribute new text (high novelty early, asymptoting as "
    "the corpus saturates — complement of span_dedup_c4, which "
    "removes the repeats; this measures them). Plan: one gram agg "
    "(map-side partial) builds the first-occurrence index, one "
    "gram-keyed equi-join streams each doc's grams past it, one "
    "per-doc agg — the index is gram-vocabulary-sized at 100 TB "
    "(bucketable), never corpus-sized, and nothing sorts globally.",
    parts=8,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bg = (
        docs.select("doc_id", _word_toks().alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("b"),
        )
    )
    first = bg.groupBy("b").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        bg.join(first, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.cast("bigint").alias("novel"),
            dround(
                novel.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


@_register(
    "audience_overlap",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM ut GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS users
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, users,
           CAST(users AS DOUBLE)
             / CAST(sa.n + sb.n - users AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    ORDER BY type_a, type_b
    """,
    doc="Audience-overlap matrix: exact pairwise user-set Jaccard "
    "between event types. The engine side avoids the fact-table "
    "self-join entirely: ONE shuffle dedups (user, type), one more "
    "groups each user's type set (bounded by the type vocabulary), "
    "pairs explode from a per-user sorted-combination expression "
    "(JVM-side flatten/transform, at most C(|types|,2) rows per "
    "user), and per-pair counts map-side-combine. The oracle takes "
    "the textbook self-join formulation, so the gate proves the "
    "set-algebra rewrite. Jaccard is an exact IEEE quotient of "
    "bit-identical BIGINTs (no rounding needed). The audience/"
    "cohort analog of bitmap_distinct_rollup's exact distinct "
    "machinery at 100 TB: per-user state is the type set, never "
    "the event history.",
    parts=8,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts"))
    )
    # all ordered pairs (i<j) from each user's sorted type set
    pair_expr = F.flatten(
        F.transform(
            F.col("ts"),
            lambda a, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size("ts")),
                lambda b: F.struct(
                    a.alias("type_a"), b.alias("type_b")
                ),
            ),
        )
    )
    pairs = (
        per_user.select(F.explode(pair_expr).alias("p"))
        .groupBy(
            F.col("p.type_a").alias("type_a"),
            F.col("p.type_b").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("users"))
    )
    sizes = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "users",
            (
                F.col("users").cast("double")
                / (F.col("na") + F.col("nb") - F.col("users")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@_register(
    "pareto_frontier",
    """
    SELECT a.p_partkey AS partkey,
           a.p_retailprice AS price,
           CAST(a.p_size AS BIGINT) AS size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice
        AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice
             OR b.p_size > a.p_size)
    )
    ORDER BY price, partkey
    """,
    doc="2-D Pareto frontier / skyline (Borzsonyi et al. ICDE'01): "
    "parts minimizing retail price while maximizing size — a row "
    "survives iff nothing is at-least-as-cheap AND at-least-as-big "
    "with one strict. The engine avoids the quadratic dominance "
    "test entirely: sorted by price, a row survives iff its size "
    "equals its price-group max AND beats the running size-max of "
    "all strictly-cheaper prices; that running max is the "
    "DISTRIBUTED two-phase prefix-MAX scan (64 price buckets from "
    "min/max stats folded in via the constant-key broadcast, "
    "bucket-partitioned within-bucket windows over the price-level "
    "rollup, cross-bucket offsets from a 64-row running max) — "
    "the interval_concurrency prefix-SUM machinery re-instantiated "
    "over the MAX monoid, so no stage sorts more than one bucket. "
    "The ORACLE is the naive NOT EXISTS dominance formulation, "
    "gating the sweep-line rewrite against the definition.",
    parts=8,
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    # price-level rollup: one row per distinct price
    plevel = parts.groupBy("price").agg(F.max("size").alias("gmax"))
    # bucket from min/max stats (constant-key broadcast, zorder idiom)
    stats = plevel.agg(
        F.min("price").alias("lo"), F.max("price").alias("hi")
    ).withColumn("__k", _const_key(F.col("lo")))
    pb = (
        plevel.withColumn("__k", _const_key(F.col("price")))
        .join(F.broadcast(stats), "__k")
        .withColumn(
            "bucket",
            F.floor(
                (F.col("price") - F.col("lo"))
                * 64
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
        )
        .drop("__k", "lo", "hi")
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # cross-bucket offsets: 64 rows, bounded by the bucket count
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        pb.groupBy("bucket")
        .agg(F.max("gmax").alias("bmax"))
        .select(
            "bucket",
            F.coalesce(F.max("bmax").over(woff), F.lit(-1)).alias("off"),
        )
    )
    m = (
        pb.withColumn(
            "loc", F.coalesce(F.max("gmax").over(wloc), F.lit(-1))
        )
        .join(F.broadcast(offsets), "bucket")
        .select(
            "price",
            "gmax",
            F.greatest(F.col("loc"), F.col("off")).alias("m"),
        )
    )
    return (
        parts.join(m, "price")
        .filter((F.col("size") == F.col("gmax")) & (F.col("gmax") > F.col("m")))
        .select("partkey", "price", "size")
        .orderBy("price", "partkey")
    )


_RECURSIVE_GROWTH_DAILY_SQL = """
  SELECT event_type,
         CAST({datediff} AS BIGINT) AS d,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM {events}
  WHERE CAST({datediff} AS BIGINT) < 90
  GROUP BY event_type, CAST(ts AS DATE)
"""

_RECURSIVE_GROWTH_SQL = """
WITH RECURSIVE daily AS (
""" + "{daily}" + """
), rec(event_type, d, cents, idx) AS (
  SELECT event_type, d, cents, CAST(1.0 AS DOUBLE) AS idx
  FROM daily WHERE d = 0
  UNION ALL
  SELECT /*+ BROADCAST(mo) */ mo.event_type, mo.d, mo.cents,
         r.idx * (CAST(mo.cents AS DOUBLE) / CAST(r.cents AS DOUBLE))
  FROM rec r JOIN daily mo
    ON mo.event_type = r.event_type AND mo.d = r.d + 1
)
SELECT event_type, d AS day_index,
       CAST(floor(idx * 1000000 + 0.5) AS DOUBLE) / 1000000.0
         AS growth_index
FROM rec ORDER BY event_type, day_index
"""


@_register(
    "recursive_compound_growth",
    _RECURSIVE_GROWTH_SQL.format(
        daily=_RECURSIVE_GROWTH_DAILY_SQL.format(
            events="events",
            datediff=(
                "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"
            ),
        ),
    ),
    doc="WITH RECURSIVE linear recurrence — Spark 4's recursive CTE "
    "feature under the oracle gate: a per-event-type compounded "
    "growth index, idx(d) = idx(d-1) * (cents(d)/cents(d-1)), "
    "seeded at 1.0 on day 0. Sequential IEEE *products* are the "
    "window functions' blind spot (exp(sum(ln)) re-associates and "
    "diverges across engines; there is no PRODUCT aggregate), but "
    "the recursion executes the same left-to-right multiply chain "
    "on both engines over bit-identical integer-cent ratios, so "
    "every index value matches exactly. The SAME SQL text runs on "
    "Spark and DuckDB (only the datediff spelling differs, and Spark "
    "recurses over a PRE-MATERIALIZED daily rollup: Spark's "
    "UnionLoop re-evaluates every plan the recursive member "
    "references on EACH iteration, so an inline `daily` CTE re-scans "
    "and re-aggregates the full fact table once per day — measured "
    "9.2 s for 30 steps at sf0.1, vs 5.5 s after materializing "
    "the rollup once, the residual being UnionLoop's ~180 ms/step "
    "job-scheduling floor; at 100 TB the difference is 30 fact "
    "scans vs one). Depth is additionally bounded at 90 days: each "
    "step is a "
    "scheduled micro-job, so the demo pays only for the depth it "
    "demonstrates. Each step is one broadcastable day-slice "
    "equi-join over the group cardinality — state never exceeds one "
    "row per group, the iterative-family pattern "
    "(kmeans/PageRank/BFS) expressed in declarative SQL instead of "
    "a driver loop.",
    parts=8,
)
def q_recursive_compound_growth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__rec_events"
    )
    # materialize the tiny daily rollup ONCE — the recursive member
    # re-evaluates whatever plan it references per iteration
    daily = spark.sql(
        _RECURSIVE_GROWTH_DAILY_SQL.format(
            events="__rec_events",
            datediff="datediff(CAST(ts AS DATE), DATE '2024-01-01')",
        )
    ).coalesce(1).transform(stage_boundary)
    daily.createOrReplaceTempView("__rec_daily")
    return spark.sql(
        _RECURSIVE_GROWTH_SQL.format(daily="SELECT * FROM __rec_daily")
    )


@_register(
    "mannwhitney_drift",
    """
    WITH ev AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('click', 'error')
    ), r AS (
      SELECT cents, CAST(SUM(ia) AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev GROUP BY cents
    ), c AS (
      SELECT ca, cnt,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cb4
      FROM r
    ), s AS (
      SELECT CAST(SUM(ca * (2 * cb4 + cnt + 1)) AS BIGINT) AS r2a,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties,
             CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cnt - ca) AS BIGINT) AS nb
      FROM c
    )
    , v AS (
      SELECT na, nb, r2a,
             (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0)
             * (CAST(na + nb + 1 AS DOUBLE)
                - CAST(ties AS DOUBLE)
                  / (CASE WHEN na + nb > 1
                     THEN CAST(na + nb AS DOUBLE)
                          * CAST(na + nb - 1 AS DOUBLE)
                     ELSE NULL END)) AS var
      FROM s
    )
    SELECT na AS n_click, nb AS n_error,
           CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_stat,
           CASE WHEN var > 0 THEN
             CAST(r2a - na * (na + 1) - na * nb AS DOUBLE)
             / (2.0 * sqrt(var))
           ELSE NULL END AS z_score
    FROM v
    """,
    doc="Mann-Whitney U rank-sum drift gate (Mann & Whitney 1947): "
    "does the `value` distribution of click events differ from "
    "error events? Complements the ks_drift_gate's sup-CDF distance "
    "with the rank-sum location test monitoring pipelines pair it "
    "with. Everything is EXACT integer arithmetic until the last "
    "scalar: values collapse to integer cents, tied ranks enter via "
    "the rollup identity 2*R_A = sum(ca*(2*cum_before + cnt + 1)) "
    "(so no 0.5 average-rank floats ever sum), and the tie "
    "correction sum(t^3 - t) stays an exact integer (decimal(38,0) "
    "products — BIGINT saturates at N ~ 3e9); z is then a single "
    "deterministic double expression over five exact integers — "
    "bit-identical on both engines, no FP-summation-order exposure. "
    "Scale: one hash groupBy collapses 100 TB of events to the "
    "cents-domain rollup; the rank prefix is the pack's two-phase "
    "bucketed prefix-SUM (no global sort, no single-partition "
    "window) and the rest is one scalar aggregate.",
    parts=8,
)
def q_mannwhitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "error"))
        .select(
            F.floor(F.col("value") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
            F.when(F.col("event_type") == "click", F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("ia"),
        )
    )
    # domain rollup: one row per distinct cents value (map-side combine
    # absorbs the 100 TB fact scan; output is bounded by the value
    # domain, not the row count)
    r = ev.groupBy("cents").agg(
        F.sum("ia").alias("ca"), F.count(F.lit(1)).alias("cnt")
    )
    # two-phase distributed prefix-SUM over the rollup (the
    # interval_concurrency / pareto_frontier machinery): 64 range
    # buckets from min/max stats folded in via the constant-key
    # broadcast, within-bucket windows, 64-row cross-bucket offsets —
    # no stage sorts more than one bucket.
    stats = r.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    ).withColumn("__k", _const_key(F.col("lo")))
    rb = (
        r.withColumn("__k", _const_key(F.col("cents")))
        .join(F.broadcast(stats), "__k")
        .withColumn(
            "bucket",
            F.floor(
                (F.col("cents") - F.col("lo"))
                * 64
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
        )
        .drop("__k", "lo", "hi")
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        rb.groupBy("bucket")
        .agg(F.sum("cnt").alias("bsum"))
        .select(
            "bucket",
            F.coalesce(F.sum("bsum").over(woff), F.lit(0)).alias("off"),
        )
    )
    c = (
        rb.withColumn(
            "loc", F.coalesce(F.sum("cnt").over(wloc), F.lit(0))
        )
        .join(F.broadcast(offsets), "bucket")
        .select(
            "ca", "cnt", (F.col("loc") + F.col("off")).alias("cb4")
        )
    )
    # Rank-sum products widened to decimal(38,0): ca*(2*cb4+cnt+1) and
    # cnt^3 approach N^2 / N^3, past BIGINT at N ~ 3e9 / ~2e6 distinct
    # cents x large counts; the rollup is domain-bounded so the decimal
    # arithmetic never touches the fact scan.
    dec38 = "decimal(38,0)"
    s = c.agg(
        F.sum(
            F.col("ca").cast(dec38)
            * (2 * F.col("cb4") + F.col("cnt") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("cnt").cast(dec38) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("ties"),
        F.sum("ca").alias("na"),
        F.sum(F.col("cnt") - F.col("ca")).alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    nad = na.cast(dec38)  # na*(na+1), na*nb exceed BIGINT at na ~ 3e9
    d = lambda x: x.cast("double")  # noqa: E731
    # try_divide twice: N <= 1 makes the tie-correction denominator 0,
    # an all-tied sample makes var == 0 — both degenerate cases yield
    # a NULL z (the oracle's guarded CASE mirrors it); ANSI mode would
    # otherwise hard-fail on the division (hypothesis-caught).
    var = (d(na) * d(nb) / 12.0) * (
        d(na + nb + 1)
        - F.try_divide(
            d(F.col("ties")), d(na + nb) * d(na + nb - 1)
        )
    )
    return s.select(
        na.alias("n_click"),
        nb.alias("n_error"),
        (d(F.col("r2a") - nad * (na + 1)) / 2.0).alias("u_stat"),
        F.try_divide(
            d(F.col("r2a") - nad * (na + 1) - nad * nb),
            2.0 * F.sqrt(var),
        ).alias("z_score"),
    )


@_register(
    "benford_digits",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
               AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      FROM lineitem
    ), d AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY digit
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d)
    SELECT digit, n,
           CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS obs_freq,
           log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS benford_freq,
           pow(CAST(n AS DOUBLE) - CAST(tot AS DOUBLE)
                 * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 2)
             / (CAST(tot AS DOUBLE)
                * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) AS chi_term
    FROM d, t ORDER BY digit
    """,
    doc="Benford first-significant-digit audit (Benford 1938, the "
    "classic financial-data anomaly screen): the observed leading "
    "digit distribution of lineitem extended prices vs the "
    "log10(1 + 1/d) law, with per-digit chi-square contributions. "
    "The digit is extracted from the INTEGER-CENTS string form "
    "(leading digit is scale-invariant, and bigint-to-string is "
    "identical across engines) — never from floor(log10(x)), whose "
    "1-ulp libm differences at exact powers of ten flip the digit. "
    "Scale: one map-side-combined groupBy collapses any fact volume "
    "to <=9 rows; the total folds back via the constant-key "
    "broadcast, so nothing global ever sorts or shuffles wide.",
    parts=8,
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.substring(
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    d = li.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = d.agg(F.sum("n").alias("tot")).withColumn(
        "__k", _const_key(F.col("tot"))
    )
    p = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    return (
        d.withColumn("__k", _const_key(F.col("digit")))
        .join(F.broadcast(tot), "__k")
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("tot").cast("double"))
            .alias("obs_freq"),
            p.alias("benford_freq"),
            (
                F.pow(
                    F.col("n").cast("double")
                    - F.col("tot").cast("double") * p,
                    F.lit(2),
                )
                / (F.col("tot").cast("double") * p)
            ).alias("chi_term"),
        )
        .orderBy("digit")
    )


@_register(
    "domain_cap_sample",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 12 ORDER BY source, doc_id
    """,
    doc="Per-domain quota sampling — the domain-rebalancing primitive "
    "of LLM corpus prep (C4/RefinedWeb cap pages per registered "
    "domain so no crawl-heavy site dominates the mixture): keep the "
    "12 deterministically-hash-ranked docs per source. The ORACLE is "
    "the naive per-domain ROW_NUMBER; the ENGINE never runs that "
    "window over raw rows (a mega-domain would pin its whole history "
    "into one sort partition at 100 TB). Instead it is an EXACT "
    "two-pass hash-threshold top-K, the heavy_hitters_2pass idiom "
    "over the md5 order: pass 1 rolls up per (source, first hex "
    "nibble) counts (<=16 rows/domain), a cumulative scan over that "
    "tiny rollup finds the nibble bucket containing the Kth-smallest "
    "hash, and only rows at-or-below the threshold nibble (~K + "
    "1/16th of the domain, recursively refinable) enter the final "
    "rank window — identical output, bounded sort partitions.",
    parts=8,
)
def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 12
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    docs = docs.withColumn("nib", F.substring("h", 1, 1))
    # pass 1: tiny per-(source, nibble) rollup + cumulative threshold
    counts = docs.groupBy("source", "nib").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("nib")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    thr = (
        counts.withColumn("cum", F.sum("cnt").over(wcum))
        .groupBy("source")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("cum") >= k, F.col("nib"))),
                F.max("nib"),
            ).alias("thr")
        )
    )
    # pass 2: rank only inside the threshold prefix of each domain
    wrk = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.join(F.broadcast(thr), "source")
        .filter(F.col("nib") <= F.col("thr"))
        .withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= k)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


_CHI2_ORACLE = """
    WITH ev AS (
      SELECT event_type,
             LEAST(9, CAST(floor(value / 50.0) AS INT)) AS vb
      FROM events
    ), o AS (
      SELECT event_type, vb, CAST(COUNT(*) AS BIGINT) AS obs
      FROM ev GROUP BY event_type, vb
    ), cells AS (
      SELECT r.event_type, c.vb, COALESCE(o.obs, 0) AS obs,
             r.rt, c.ct
      FROM (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt
            FROM o GROUP BY event_type) r
      CROSS JOIN (SELECT vb, CAST(SUM(obs) AS BIGINT) AS ct
                  FROM o GROUP BY vb) c
      LEFT JOIN o ON o.event_type = r.event_type AND o.vb = c.vb
    ), tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT vb) AS BIGINT) AS n_cols,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT vb) - 1) AS BIGINT) AS dof,
           SUM(CAST((obs * n - rt * ct) AS DOUBLE)
               * CAST((obs * n - rt * ct) AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)
                  * CAST(ct AS DOUBLE))) AS chi2
    FROM cells, tot
    """


@_register(
    "chi2_independence",
    _CHI2_ORACLE,
    doc="Chi-square independence test between event type and a "
    "fixed-width value bucket (Pearson 1900) — the categorical "
    "drift/association monitor next to ks_drift_gate (continuous) "
    "and mannwhitney_drift (rank location). Identity used: "
    "sum((O*N - rt*ct)^2 / (N*rt*ct)) / N == sum((O-E)^2/E) with "
    "E = rt*ct/N (one N inside the per-cell denominator — the "
    "identity absorbs it, property-gated against the direct form), "
    "so every numerator is an EXACT integer product (decimal(38,0) "
    "— BIGINT saturates once N ~ 3e9 makes rt*ct approach N^2) "
    "before the single double division per cell (<=50 cells; the "
    "only FP summation is over those 50 deterministic terms). "
    "Zero-observed cells are restored via the row-total x col-total "
    "cross join (they carry E > 0 and must contribute). Scale: the "
    "fact scan collapses map-side to the contingency table "
    "(types x 10 buckets); everything after is broadcast-sized.",
    parts=8,
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.least(
            F.lit(9), F.floor(F.col("value") / 50.0).cast("int")
        ).alias("vb"),
    )
    o = ev.groupBy("event_type", "vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    return _chi2_from_cells(o)


def _chi2_from_cells(o: DataFrame) -> DataFrame:
    """Pearson chi-square from an observed contingency table
    ``(event_type, vb, obs)`` — shared by the batch query and the
    streaming drift monitor (which maintains the contingency as its
    streaming state and derives the statistic per trigger)."""
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("rt"))
    ct = o.groupBy("vb").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n")).withColumn(
        "__k", _const_key(F.col("n"))
    )
    # margin cross product as a const-key EQUI-join (BroadcastHash,
    # never a BNLJ) — restores the zero-observed cells. The obs side
    # is re-aliased first: margins and obs share grouping exprIds
    # (both derive from the same source — a streaming memory-sink
    # view in the drift-monitor twin), and the raw self-join trips
    # the analyzer's conflicting-attributes check.
    ob = o.select(
        F.col("event_type").alias("__et"),
        F.col("vb").alias("__vb"),
        F.col("obs"),
    )
    cells = (
        rt.withColumn("__c", _const_key(F.col("rt")))
        .join(
            F.broadcast(ct.withColumn("__c", _const_key(F.col("ct")))),
            "__c",
        )
        .drop("__c")
        .join(
            ob,
            (F.col("event_type") == F.col("__et"))
            & (F.col("vb") == F.col("__vb")),
            "left",
        )
        .drop("__et", "__vb")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .withColumn("__k", _const_key(F.col("rt")))
        .join(F.broadcast(n), "__k")
    )
    # Exact numerator widened to decimal(38,0): rt*ct approaches N^2,
    # which exceeds BIGINT once N ~ 3e9 rows (ANSI mode would
    # hard-fail at the scale the docs advertise). decimal(38,0) is
    # exact to 1e38 (room for N ~ 1e19) and costs nothing here — the
    # products run on the <=50-cell contingency table, never on the
    # fact scan.
    dec38 = "decimal(38,0)"
    num = F.col("obs").cast(dec38) * F.col("n") - F.col("rt").cast(
        dec38
    ) * F.col("ct")
    term = (num.cast("double") * num.cast("double")) / (
        F.col("n").cast("double")
        * F.col("rt").cast("double")
        * F.col("ct").cast("double")
    )
    stat = cells.agg(F.sum(term).alias("chi2")).withColumn(
        "__d", _const_key(F.col("chi2"))
    )
    # dims from the already-distinct margin rollups (a multi-distinct
    # agg over cells would plan an Expand; these are plain counts)
    dims = (
        rt.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn("__d", _const_key(F.col("n_rows")))
        .join(
            F.broadcast(
                ct.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_cols")
                ).withColumn("__d", _const_key(F.col("n_cols")))
            ),
            "__d",
        )
    )
    return dims.join(F.broadcast(stat), "__d").select(
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("bigint")
        .alias("dof"),
        "chi2",
    )


@_register(
    "stream_chi2_drift_batch_eq",
    _CHI2_ORACLE,
    doc="Streaming drift monitoring under the ORACLE gate — the tenth "
    "streaming rung: the chi-square independence monitor run AS a "
    "streaming job. The stream maintains only the contingency-table "
    "sufficient statistics (streaming/ops.py "
    "stream_value_contingency: a complete-mode groupBy whose state "
    "is bounded by types x buckets, never by event volume — the "
    "production shape for drift monitors at 100 TB/day), landed to "
    "a memory sink by an availableNow replay; the scalar statistic "
    "is then derived from that tiny table by the SAME "
    "_chi2_from_cells formula as the batch twin and hash-compared "
    "against the batch SQL oracle. Chained aggregations are "
    "unsupported in a streaming plan, so statistic-from-state per "
    "trigger is the architecture, not a shortcut.",
    parts=8,
)
def q_stream_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_value_contingency,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    stream = stream_value_contingency(s.read_stream(batch.schema))
    cells = s.to_memory(stream, "complete")
    return _chi2_from_cells(cells)


@_register(
    "range_frame_trailing_7d",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), sparse AS (
      SELECT * FROM daily WHERE cents % 2 = 1
    )
    SELECT event_type, d AS day_index, cents,
           CAST(SUM(cents) OVER w AS BIGINT) AS win_cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS win_days
    FROM sparse
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, day_index
    """,
    doc="Value-RANGE window frames — the frame class the pack's "
    "trailing aggregates didn't exercise (rolling_mean_30 and the "
    "FIR family are ROWS frames): a trailing 7-CALENDAR-DAY sum over "
    "a deliberately SPARSE daily series (odd-cents days only), where "
    "RANGE and ROWS genuinely diverge — a gap day shrinks the RANGE "
    "frame's row count while ROWS 6 PRECEDING would silently reach "
    "back across the gap into older days. Everything is exact "
    "integer cents over an integer day index, so the frame sum is "
    "associativity-safe cross-engine. Scale: the events scan "
    "collapses map-side to the (type, day) rollup before any window; "
    "the RANGE sort is partitioned by series key, state bounded by "
    "the frame's value span.",
    parts=8,
)
def q_range_frame_trailing_7d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("c").cast("bigint").alias("cents")
    )
    sparse = daily.filter(F.col("cents") % 2 == 1)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-6, Window.currentRow)
    )
    return sparse.select(
        "event_type",
        F.col("d").alias("day_index"),
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("win_cents"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("win_days"),
    ).orderBy("event_type", "day_index")


@_register(
    "theilsen_trend_daily",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), slopes AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ), ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type)
                  AS BIGINT) AS n
      FROM slopes
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_slopes,
           (MAX(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                THEN slope END)
            + MAX(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
                  THEN slope END)) / 2.0 AS slope_cents_per_day
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
    doc="Theil-Sen robust trend per event type (Theil 1950 / Sen "
    "1968): the MEDIAN of all pairwise day-slopes of the daily "
    "integer-cent series — the robust sibling of trend_ols_daily "
    "(a single outlier day shifts OLS; it moves the slope median "
    "almost nowhere). Each slope is one double division of exact "
    "BIGINTs, the median is an exact order statistic (lower+upper "
    "middle averaged, both via floor((n+k)/2) picked from a "
    "per-type rank — deterministic because ties are between equal "
    "values), so the result is bit-identical cross-engine with no "
    "FP-summation anywhere. Scale: the fact scan collapses map-side "
    "to the (type, day) rollup FIRST; the pairwise explosion is "
    "bounded by the CALENDAR span squared per type (C(30,2)=435 "
    "here), never by row count — for multi-year spans you sample "
    "day pairs or fall back to the OLS twin, both shapes already in "
    "the pack.",
    parts=8,
)
def q_theilsen_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _theilsen_from_daily(_daily_cents(spark, sf_dir))


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, cents): the daily integer-cent rollup the trend
    monitors share — the map-side combine that absorbs the fact scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
    )
    return ev.groupBy("event_type", "d").agg(
        F.sum("c").cast("bigint").alias("cents")
    )


def _theilsen_from_daily(daily: DataFrame) -> DataFrame:
    """Median pairwise slope per event_type from a (type, d, cents)
    rollup — the shared kernel of the exact and day-sampled variants."""
    b = daily.select(
        F.col("event_type").alias("__et"),
        F.col("d").alias("d2"),
        F.col("cents").alias("c2"),
    )
    slopes = (
        daily.join(b, (F.col("event_type") == F.col("__et")))
        .filter(F.col("d") < F.col("d2"))
        .select(
            "event_type",
            (
                (F.col("c2") - F.col("cents")).cast("double")
                / (F.col("d2") - F.col("d")).cast("double")
            ).alias("slope"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    ranked = slopes.withColumn(
        "rn", F.row_number().over(wr)
    ).withColumn("n", F.count(F.lit(1)).over(wn).cast("bigint"))
    lo = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
    hi = F.floor((F.col("n") + 2) / 2.0).cast("bigint")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_slopes"),
            (
                (
                    F.max(F.when(F.col("rn") == lo, F.col("slope")))
                    + F.max(F.when(F.col("rn") == hi, F.col("slope")))
                )
                / 2.0
            ).alias("slope_cents_per_day"),
        )
        .orderBy("event_type")
    )


@_register(
    "mann_kendall_trend",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY a.event_type
    ), nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily
      GROUP BY event_type
    ), ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                  AS BIGINT) AS tt
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, cents)
      GROUP BY event_type
    )
    SELECT s.event_type, stat AS s_stat, n AS n_days,
           CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) / 18.0
             AS var_s,
           CASE
             WHEN n * (n - 1) * (2 * n + 5) - tt <= 0 THEN NULL
             WHEN stat > 0 THEN CAST(stat - 1 AS DOUBLE)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)
                      / 18.0)
             WHEN stat < 0 THEN CAST(stat + 1 AS DOUBLE)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)
                      / 18.0)
             ELSE 0.0
           END AS z_score
    FROM s JOIN nd ON s.event_type = nd.event_type
    JOIN ties ON s.event_type = ties.event_type
    ORDER BY s.event_type
    """,
    doc="Mann-Kendall monotone-trend test per event type (Mann 1945 / "
    "Kendall 1975) — the significance companion to the Theil-Sen "
    "slope (the standard pairing in monitoring: MK answers IS there "
    "a monotone trend, Theil-Sen answers how steep). S = sum of "
    "sign(later - earlier) over all day pairs is an exact BIGINT; "
    "the tie-corrected variance [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18 "
    "is built from exact integer products; z applies the standard "
    "continuity correction and is NULL when the variance degenerates "
    "(all-tied series). Scale: same shape as theilsen_trend_daily — "
    "map-side daily rollup first, calendar-bounded pairwise "
    "explosion, three broadcast-sized margins.",
    parts=8,
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("c").cast("bigint").alias("cents")
    )
    b = daily.select(
        F.col("event_type").alias("__et"),
        F.col("d").alias("d2"),
        F.col("cents").alias("c2"),
    )
    s = (
        daily.join(b, F.col("event_type") == F.col("__et"))
        .filter(F.col("d") < F.col("d2"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("cents"), 1)
                .when(F.col("c2") < F.col("cents"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = F.col("t")
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("bigint")
            .alias("tt")
        )
    )
    n = F.col("n")
    vnum = n * (n - 1) * (2 * n + 5) - F.col("tt")
    sq = F.sqrt(vnum.cast("double") / 18.0)
    stat = F.col("s_stat")
    return (
        s.join(F.broadcast(nd), "event_type")
        .join(F.broadcast(ties), "event_type")
        .select(
            "event_type",
            stat.alias("s_stat"),
            n.alias("n_days"),
            (vnum.cast("double") / 18.0).alias("var_s"),
            F.when(vnum <= 0, F.lit(None).cast("double"))
            .when(stat > 0, (stat - 1).cast("double") / sq)
            .when(stat < 0, (stat + 1).cast("double") / sq)
            .otherwise(F.lit(0.0))
            .alias("z_score"),
        )
        .orderBy("event_type")
    )


@_register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS tot
      FROM daily GROUP BY event_type
    ), c AS (
      SELECT daily.event_type, d, n,
             CAST(SUM(cents) OVER (PARTITION BY daily.event_type
               ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(ROW_NUMBER() OVER (PARTITION BY daily.event_type
               ORDER BY d) AS BIGINT) AS k,
             tot
      FROM daily JOIN m ON daily.event_type = m.event_type
    ), s AS (
      SELECT event_type, d, n,
             ABS(n * cum - k * tot) AS abs_ns,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY ABS(n * cum - k * tot) DESC, d ASC) AS rk
      FROM c
    )
    SELECT event_type, d AS changepoint_day,
           CAST(abs_ns AS BIGINT) AS abs_n_cusum,
           n AS n_days
    FROM s WHERE rk = 1 ORDER BY event_type
    """,
    doc="CUSUM changepoint detection per event type (Page 1954): the "
    "day k maximizing |S_k|, S_k = sum_{i<=k}(x_i - mean), over the "
    "daily integer-cent series — the mean-shift locator next to the "
    "mannwhitney/ks/chi2 'did it drift' monitors (those test, this "
    "POINTS). The statistic is kept EXACT by clearing the rational "
    "mean: n*S_k = n*cum_k - k*tot is a pure integer (exact "
    "decimal(38,0) products — BIGINT would overflow near 1e12 rows x "
    "daily granularity), so the argmax (ties broken toward the "
    "earlier day) is bit-deterministic cross-engine with no doubles "
    "anywhere in the output; the reported abs_n_cusum column itself "
    "stays BIGINT and saturates past ~9.2e18. Scale: "
    "map-side rollup to (type, day) first; the prefix sum and the "
    "argmax rank are windows partitioned by series key with "
    "calendar-bounded state.",
    parts=8,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("c").cast("bigint").alias("cents")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wk = Window.partitionBy("event_type").orderBy("d")
    c = (
        daily.join(F.broadcast(m), "event_type")
        .withColumn(
            "cum", F.sum("cents").over(wcum).cast("bigint")
        )
        .withColumn("k", F.row_number().over(wk).cast("bigint"))
    )
    # n*cum and k*tot approach n_days x total_cents ~ 9e18 at 1e12
    # rows — the BIGINT edge. The argmax ranks on the exact
    # decimal(38,0) statistic (correct at any scale); only the
    # REPORTED abs_n_cusum column stays BIGINT for the output
    # contract and saturates past ~9.2e18.
    abs_ns = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("cum")
        - F.col("k").cast("decimal(38,0)") * F.col("tot")
    )
    wrk = Window.partitionBy("event_type").orderBy(
        abs_ns.desc(), F.col("d").asc()
    )
    return (
        c.withColumn("abs_ns", abs_ns)
        .withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").alias("changepoint_day"),
            F.col("abs_ns").cast("bigint").alias("abs_n_cusum"),
            F.col("n").alias("n_days"),
        )
        .orderBy("event_type")
    )




@_register(
    "theilsen_trend_sampled",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), sampled AS (
      SELECT event_type, d, cents
      FROM (SELECT event_type, d, cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY md5(event_type || '|' || CAST(d AS VARCHAR)),
                              d) AS hr
            FROM daily)
      WHERE hr <= 20
    ), slopes AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM sampled a JOIN sampled b
        ON a.event_type = b.event_type AND a.d < b.d
    ), ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type)
                  AS BIGINT) AS n
      FROM slopes
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_slopes,
           (MAX(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                THEN slope END)
            + MAX(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
                  THEN slope END)) / 2.0 AS slope_cents_per_day
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
    doc="Theil-Sen with deterministic day-pair SAMPLING (r7, the "
    "multi-year-span fallback theilsen_trend_daily's docstring "
    "promised as prose): keep the m=20 days per type whose "
    "md5(event_type || '|' || d) hex ranks lowest — a fixed uniform "
    "pseudo-random day subset both engines compute identically "
    "(md5 over the same string, hex compared bytewise) — then run "
    "the exact median-of-pairwise-slopes kernel on C(m,2)=190 pairs "
    "per type. Sub-sampling DAYS (not pairs) bounds the join "
    "explosion BEFORE it happens: a 10-year daily series would emit "
    "C(3652,2) = 6.7M slopes per type exact, 190 sampled, and the "
    "estimator stays the consistent Theil-Sen median over a uniform "
    "sub-design. Equivalence pin: with m >= the calendar span the "
    "filter keeps everything and this query equals "
    "theilsen_trend_daily exactly (tests/test_stat_gates.py).",
    parts=8,
)
def q_theilsen_trend_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _theilsen_from_daily(
        _sample_days(_daily_cents(spark, sf_dir), 20)
    )


def _sample_days(daily: DataFrame, m: int) -> DataFrame:
    """Deterministic m-day-per-type subsample: rank days by the md5 of
    ``event_type || '|' || d`` (identical on Spark and DuckDB — same
    string in, same hex out, bytewise compare) and keep the lowest m.
    Day-tiebreak keeps the window total-ordered even under a hash
    collision."""
    wh = Window.partitionBy("event_type").orderBy(
        F.md5(
            F.concat_ws(
                "|", F.col("event_type"), F.col("d").cast("string")
            )
        ),
        F.col("d"),
    )
    return (
        daily.withColumn("__hr", F.row_number().over(wh))
        .filter(F.col("__hr") <= m)
        .drop("__hr")
    )


_PSI_ORACLE = f"""
    WITH ev AS (
      SELECT event_type,
             CASE WHEN datediff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) < 15
                  THEN 0 ELSE 1 END AS period,
             LEAST(9, CAST(floor(value / 50.0) AS INT)) AS vb
      FROM events
    ), c AS (
      SELECT event_type, period, vb, CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2, 3
    ), spine AS (
      SELECT event_type, CAST(r.range AS INT) AS vb
      FROM (SELECT DISTINCT event_type FROM ev) CROSS JOIN range(10) r
    ), f AS (
      SELECT s.event_type, s.vb,
             COALESCE(a.n, 0) AS a, COALESCE(b.n, 0) AS b
      FROM spine s
      LEFT JOIN c a ON a.event_type = s.event_type
                   AND a.vb = s.vb AND a.period = 0
      LEFT JOIN c b ON b.event_type = s.event_type
                   AND b.vb = s.vb AND b.period = 1
    ), tot AS (
      SELECT event_type, CAST(SUM(a) AS BIGINT) AS ta,
             CAST(SUM(b) AS BIGINT) AS tb
      FROM f GROUP BY event_type
    )
    SELECT f.event_type,
           MAX(ta) AS n_base, MAX(tb) AS n_cur,
           {{psi}} AS psi
    FROM f JOIN tot ON tot.event_type = f.event_type
    GROUP BY f.event_type ORDER BY f.event_type
    """.format(
        psi=sql_dround(
            "SUM((CAST(a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0)"
            " * ln(((CAST(a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0))"
            "      / ((CAST(b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 5.0)))"
            " - (CAST(b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 5.0)"
            " * ln(((CAST(a AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0))"
            "      / ((CAST(b AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 5.0))))",
            6,
        )
    )


@_register(
    "psi_drift",
    _PSI_ORACLE,
    doc="Population Stability Index per event type (the credit-risk /"
    " ML-monitoring standard next to ks/chi2/mannwhitney): "
    "PSI = sum_i (p_i - q_i) * ln(p_i / q_i) between the value "
    "distribution of the first 15 calendar days (baseline) and the "
    "rest (current), over the same fixed 10-band bucketing as "
    "chi2_independence. Laplace-smoothed p_i = (n_i + 0.5)/(N + 5) "
    "so empty buckets contribute finitely and identically on both "
    "engines; every p/q is a single IEEE division of exact integers, "
    "each of the 10 per-type terms is bit-identical cross-engine "
    "(the chi2 determinism argument), and each term is >= 0 "
    "((p-q) and ln(p/q) share sign), property-gated. Scale: the "
    "fact scan collapses map-side to (type, period, band) — at most "
    "types x 20 rows; the spine is an explode, never a cross join.",
    parts=8,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            < 15,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("period"),
        F.least(
            F.lit(9), F.floor(F.col("value") / 50.0).cast("int")
        ).alias("vb"),
    )
    c = ev.groupBy("event_type", "period", "vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return _psi_from_counts(c)


def _psi_from_counts(c: DataFrame) -> DataFrame:
    """PSI per event_type from a ``(event_type, period, vb, n)``
    counts table — shared by the batch query and streaming rung 11
    (which maintains the counts as its only stream state and derives
    the statistic per trigger, the same statistic-from-state
    architecture as ``_chi2_from_cells``)."""
    # 10-bucket spine per type via explode — no join, no BNLJ
    spine = (
        c.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("vb"),
        )
    )
    a = c.filter(F.col("period") == 0).select(
        F.col("event_type").alias("__et"),
        F.col("vb").alias("__vb"),
        F.col("n").alias("a"),
    )
    b = c.filter(F.col("period") == 1).select(
        F.col("event_type").alias("__et"),
        F.col("vb").alias("__vb"),
        F.col("n").alias("b"),
    )
    f = (
        spine.join(
            F.broadcast(a),
            (F.col("event_type") == a["__et"]) & (F.col("vb") == a["__vb"]),
            "left",
        )
        .drop("__et", "__vb")
        .join(
            F.broadcast(b),
            (F.col("event_type") == b["__et"]) & (F.col("vb") == b["__vb"]),
            "left",
        )
        .drop("__et", "__vb")
        .select(
            "event_type",
            "vb",
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
            F.coalesce(F.col("b"), F.lit(0)).alias("b"),
        )
    )
    tot = f.groupBy("event_type").agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
    ).select(
        F.col("event_type").alias("__et"), "ta", "tb"
    )
    j = f.join(
        F.broadcast(tot), F.col("event_type") == F.col("__et")
    ).drop("__et")
    p = (F.col("a").cast("double") + 0.5) / (
        F.col("ta").cast("double") + 5.0
    )
    q = (F.col("b").cast("double") + 0.5) / (
        F.col("tb").cast("double") + 5.0
    )
    term = p * F.log(p / q) - q * F.log(p / q)
    return (
        j.groupBy("event_type")
        .agg(
            F.max("ta").alias("n_base"),
            F.max("tb").alias("n_cur"),
            dround(F.sum(term), 6).alias("psi"),
        )
        .orderBy("event_type")
    )


@_register(
    "stream_psi_drift_batch_eq",
    _PSI_ORACLE,
    doc="Streaming PSI drift monitoring under the ORACLE gate — the "
    "eleventh streaming rung, the production shape of psi_drift: the "
    "stream maintains only the (type, period, band) count state "
    "(streaming/ops.py stream_psi_counts — O(types x 2 x 10), "
    "bounded by the band grid regardless of event volume), landed to "
    "a memory sink by an availableNow replay; the PSI scalar is then "
    "derived from that tiny table per trigger by the SAME "
    "_psi_from_counts kernel as the batch twin and hash-compared "
    "against the batch SQL oracle — statistic-from-state, the same "
    "architecture as the chi-square rung, monitoring a DIFFERENT "
    "statistic family (index vs test).",
    parts=8,
)
def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_psi_counts,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    stream = stream_psi_counts(s.read_stream(batch.schema))
    cells = s.to_memory(stream, "complete")
    return _psi_from_counts(cells)


@_register(
    "js_divergence_corpora",
    f"""
    WITH docs2 AS (
      SELECT CASE WHEN substr(md5(source), 1, 1) BETWEEN '0' AND '7'
                  THEN 0 ELSE 1 END AS corpus,
             text
      FROM documents
    ), toks AS (
      SELECT corpus, unnest({{toks}}) AS w FROM docs2
    ), wc AS (
      SELECT corpus, w, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY 1, 2
    ), vocab AS (
      SELECT w FROM (SELECT w, SUM(n) AS tot FROM wc GROUP BY w
                     ORDER BY tot DESC, w ASC LIMIT 200)
    ), tot AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN corpus = 0 THEN n END), 0)
                  AS BIGINT) AS ta,
             CAST(COALESCE(SUM(CASE WHEN corpus = 1 THEN n END), 0)
                  AS BIGINT) AS tb
      FROM wc
    ), f0 AS (
      SELECT v.w,
             CAST(COALESCE(a.n, 0) AS BIGINT) AS a,
             CAST(COALESCE(b.n, 0) AS BIGINT) AS b
      FROM vocab v
      LEFT JOIN wc a ON a.w = v.w AND a.corpus = 0
      LEFT JOIN wc b ON b.w = v.w AND b.corpus = 1
    ), f AS (
      SELECT * FROM f0
      UNION ALL
      SELECT '~~other',
             (SELECT ta FROM tot)
               - (SELECT CAST(COALESCE(SUM(a), 0) AS BIGINT) FROM f0),
             (SELECT tb FROM tot)
               - (SELECT CAST(COALESCE(SUM(b), 0) AS BIGINT) FROM f0)
    ), terms AS (
      SELECT w,
             0.5 * (CASE WHEN a > 0 THEN
               (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
               * ln((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
                    / ((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
                        + CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)) / 2.0))
               ELSE 0.0 END)
             + 0.5 * (CASE WHEN b > 0 THEN
               (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
               * ln((CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
                    / ((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
                        + CAST(b AS DOUBLE) / CAST(tb AS DOUBLE)) / 2.0))
               ELSE 0.0 END) AS term
      FROM f CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
           (SELECT ta FROM tot) AS n_tokens_a,
           (SELECT tb FROM tot) AS n_tokens_b,
           {{jsd}} AS jsd_nats,
           {{jsdn}} AS jsd_normalized
    FROM terms
    """.format(
        toks=_WORD_TOKS_SQL,
        jsd=sql_dround(
            "list_reduce(list(term ORDER BY w), (x, y) -> x + y)", 6
        ),
        jsdn=sql_dround(
            "list_reduce(list(term ORDER BY w), (x, y) -> x + y) / ln(2.0)",
            6,
        ),
    ),
    doc="Jensen-Shannon divergence between two corpora's unigram "
    "distributions (Lin 1991) — the corpus-comparison tool next to "
    "the drift monitors: how far apart are corpus A's and corpus B's "
    "vocabularies (0 = identical, ln 2 = disjoint; also reported "
    "normalized to [0, 1])? Corpora are a deterministic md5 split of "
    "`source`; the distributions are restricted to the top-200 "
    "combined-count words (count-desc, word-asc tiebreak — "
    "deterministic) plus an OTHER bucket carrying the residual mass, "
    "so both sides are complete probability distributions. "
    "Determinism: counts are exact integers, each per-word term is a "
    "bit-identical double on both engines, and the final sum is a "
    "SEQUENTIAL LEFT FOLD in word order on BOTH engines (Spark "
    "F.aggregate over the sorted struct array; DuckDB list_reduce "
    "over list(term ORDER BY w)) — no FP-summation-order exposure "
    "even over 201 terms, a stronger guarantee than the <=50-term "
    "chi2/PSI argument. Scale: tokenize collapses map-side to "
    "(corpus, word) counts; vocab is a 200-row TakeOrdered; "
    "everything after is broadcast-sized.",
    parts=8,
)
def q_js_divergence_corpora(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.when(
            F.substring(F.md5(F.col("source")), 1, 1).between("0", "7"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("corpus"),
        "text",
    )
    toks = docs.select("corpus", F.explode(_word_toks()).alias("w"))
    wc = toks.groupBy("corpus", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    vocab = (
        wc.groupBy("w")
        .agg(F.sum("n").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("w").asc())
        .limit(200)
        .select("w")
    )
    tot = wc.agg(
        F.coalesce(
            F.sum(F.when(F.col("corpus") == 0, F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("ta"),
        F.coalesce(
            F.sum(F.when(F.col("corpus") == 1, F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("tb"),
    ).withColumn("__k", _const_key(F.col("ta")))
    # bound the per-corpus count sides to the vocabulary BEFORE any
    # broadcast: wc is unbounded (every distinct word in the corpus),
    # so broadcasting it raw would OOM at real corpus scale — the
    # 200-row vocab is the side that broadcasts into the semi-join,
    # leaving <= 200 rows per corpus to carry forward (review-caught;
    # this is what makes the docstring's "everything after the
    # rollup is broadcast-sized" claim true).
    wcv = wc.join(F.broadcast(vocab), "w", "left_semi")
    a = wcv.filter(F.col("corpus") == 0).select(
        F.col("w").alias("__wa"), F.col("n").alias("a")
    )
    b = wcv.filter(F.col("corpus") == 1).select(
        F.col("w").alias("__wb"), F.col("n").alias("b")
    )
    f0 = (
        vocab.join(F.broadcast(a), F.col("w") == F.col("__wa"), "left")
        .drop("__wa")
        .join(F.broadcast(b), F.col("w") == F.col("__wb"), "left")
        .drop("__wb")
        .select(
            "w",
            F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("a"),
            F.coalesce(F.col("b"), F.lit(0)).cast("bigint").alias("b"),
        )
    )
    # OTHER bucket: residual mass so both sides are full distributions
    other = (
        f0.agg(
            F.sum("a").cast("bigint").alias("sa"),
            F.sum("b").cast("bigint").alias("sb"),
        )
        .withColumn("__k", _const_key(F.col("sa")))
        .join(F.broadcast(tot), "__k")
        .select(
            F.lit("~~other").alias("w"),
            (F.col("ta") - F.col("sa")).alias("a"),
            (F.col("tb") - F.col("sb")).alias("b"),
        )
    )
    fwords = f0.unionByName(other).withColumn(
        "__k", _const_key(F.col("a"))
    ).join(F.broadcast(tot), "__k")
    p = F.col("a").cast("double") / F.col("ta").cast("double")
    q = F.col("b").cast("double") / F.col("tb").cast("double")
    m = (p + q) / 2.0
    term = (
        0.5
        * F.when(F.col("a") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + 0.5
        * F.when(F.col("b") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    terms = fwords.select(
        "w", F.col("ta"), F.col("tb"), term.alias("term")
    )
    # SEQUENTIAL left fold in word order — bit-identical to the
    # oracle's list_reduce(list(term ORDER BY w)): 0.0 + t1 == t1
    # exactly, so both folds compute ((t1+t2)+...)+tn.
    folded = F.aggregate(
        F.array_sort(
            F.collect_list(F.struct(F.col("w"), F.col("term")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["term"],
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.max("ta").alias("n_tokens_a"),
        F.max("tb").alias("n_tokens_b"),
        dround(folded, 6).alias("jsd_nats"),
        dround(folded / F.lit(float(__import__("math").log(2.0))), 6).alias(
            "jsd_normalized"
        ),
    )


_DECOMP_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, d, cents,
             CAST(SUM(cents) OVER cw AS BIGINT) AS wsum,
             CAST(COUNT(*) OVER cw AS BIGINT) AS wn
      FROM daily
      WINDOW cw AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, d, cents, wsum,
             CASE WHEN wn = 7 THEN 7 * cents - wsum END AS det7
      FROM w
    ), seas AS (
      -- ((d % 7) + 7) % 7, not d % 7: DuckDB % truncates toward zero
      -- (-1 % 7 = -1) while Spark's F.pmod is non-negative (= 6); the
      -- double-mod is a pmod twin, needed when d can go negative
      -- (events timestamped before the 2024-01-01 day-index origin).
      SELECT event_type, ((d % 7) + 7) % 7 AS dow,
             CAST(SUM(det7) AS BIGINT) AS s7sum,
             CAST(COUNT(det7) AS BIGINT) AS k
      FROM det WHERE det7 IS NOT NULL GROUP BY 1, 2
    )
    SELECT det.event_type, det.d AS day_index, det.cents,
           CASE WHEN det7 IS NOT NULL THEN
             {sql_dround("CAST(wsum AS DOUBLE) / 7.0", 6)} END AS trend,
           CASE WHEN det7 IS NOT NULL THEN
             {sql_dround("CAST(s7sum AS DOUBLE) / (7.0 * CAST(k AS DOUBLE))", 6)}
           END AS seasonal,
           CASE WHEN det7 IS NOT NULL THEN
             {sql_dround(
                 "CAST(det7 AS DOUBLE) / 7.0"
                 " - CAST(s7sum AS DOUBLE) / (7.0 * CAST(k AS DOUBLE))",
                 6,
             )}
           END AS remainder
    FROM det
    LEFT JOIN seas ON seas.event_type = det.event_type
                  AND seas.dow = ((det.d % 7) + 7) % 7
    ORDER BY det.event_type, day_index
    """


@_register(
    "seasonal_decompose_daily",
    _DECOMP_ORACLE,
    doc="Classical additive seasonal decomposition per event type "
    "(the moving-average method, Hyndman & Athanasopoulos FPP ch. 3; "
    "the decomposition operator a time-series pipeline wants next to "
    "the SARIMAX forecasters and the trend/changepoint monitors): "
    "trend = centered 7-day moving average, seasonal = per day-of-"
    "week mean of the detrended series, remainder = the rest; edge "
    "days with incomplete windows yield NULL components, as the "
    "classical method defines. EXACT-integer core: detrended x 7 = "
    "7*cents - window_sum is a pure BIGINT, the seasonal mean's "
    "numerator is a BIGINT sum of those, so every component is a "
    "single division of exact integers (dround 6) — bit-identical "
    "cross-engine, no FP accumulation anywhere. Scale: the fact scan "
    "collapses map-side to (type, day); the MA window and the "
    "day-of-week rollup are both partitioned by series key with "
    "calendar-bounded state.",
    parts=8,
)
def q_seasonal_decompose_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _decomposed_daily(spark, sf_dir)


def _decomposed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decomposition frame (type, day_index, cents, trend,
    seasonal, remainder) — shared with the seasonal anomaly detector,
    whose medians stay bit-identical cross-engine because every
    component here is already dround(6)."""
    daily = _daily_cents(spark, sf_dir)
    cw = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    det = daily.select(
        "event_type",
        "d",
        "cents",
        F.sum("cents").over(cw).cast("bigint").alias("wsum"),
        F.count(F.lit(1)).over(cw).cast("bigint").alias("wn"),
    ).withColumn(
        "det7",
        F.when(
            F.col("wn") == 7, 7 * F.col("cents") - F.col("wsum")
        ),
    )
    seas = (
        det.filter(F.col("det7").isNotNull())
        .groupBy("event_type", F.pmod(F.col("d"), F.lit(7)).alias("dow"))
        .agg(
            F.sum("det7").cast("bigint").alias("s7sum"),
            F.count("det7").cast("bigint").alias("k"),
        )
        .select(
            F.col("event_type").alias("__et"), "dow", "s7sum", "k"
        )
    )
    j = det.join(
        F.broadcast(seas),
        (F.col("event_type") == F.col("__et"))
        & (F.pmod(F.col("d"), F.lit(7)) == F.col("dow")),
        "left",
    ).drop("__et", "dow")
    has = F.col("det7").isNotNull()
    seasonal = F.col("s7sum").cast("double") / (
        7.0 * F.col("k").cast("double")
    )
    return j.select(
        "event_type",
        F.col("d").alias("day_index"),
        "cents",
        F.when(has, dround(F.col("wsum").cast("double") / 7.0, 6)).alias(
            "trend"
        ),
        F.when(has, dround(seasonal, 6)).alias("seasonal"),
        F.when(
            has,
            dround(F.col("det7").cast("double") / 7.0 - seasonal, 6),
        ).alias("remainder"),
    ).orderBy("event_type", "day_index")


@_register(
    "ann_ndcg",
    "SELECT 'lsh_ndcg_at_10' AS metric, TRUE AS passed",
    doc="ANN ranking quality as a correctness gate: mean NDCG@10 of "
    "the sign-LSH index (ann_topk's exact configuration) against "
    "brute-force cosine ground truth must be >= 0.95. Completes the "
    "recall-gate family with a GRADED metric: recall@k only checks "
    "set membership, NDCG also charges the index for returning true "
    "neighbors in the wrong ORDER (graded relevance 10..1 by true "
    "rank, log2 positional discount, normalized by the ideal DCG). "
    "Same architecture as _recall_gate: fully distributed equi-joins "
    "(truth rank <- one window per query key, never a global sort), "
    "one aggregate; the oracle is the constant pass row, so a "
    "ranking regression fails the driver's hash check.",
    parts=8,
)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import (  # noqa: PLC0415
        brute_force_cosine_topk,
        lsh_cosine_topk,
    )
    from yahoofinancedatalake_spark.queries.pack_05_forecast_search import (  # noqa: PLC0415
        _ann_queries,
    )

    k = 10
    emb, queries = _ann_queries(spark, sf_dir)
    truth = brute_force_cosine_topk(
        queries, emb, k=k, id_col="vec_id", vec_col="embedding",
        round_to=4,
    )
    approx = lsh_cosine_topk(
        queries, emb, k=k, dim=64, n_planes=24, n_bands=12, seed=7
    )
    order = (F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc())
    wq = Window.partitionBy("query_id").orderBy(*order)
    rel = truth.select(
        "query_id",
        "neighbor_id",
        (k + 1 - F.row_number().over(wq)).cast("double").alias("rel"),
    )
    pos = approx.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(wq).alias("pos"),
    ).filter(F.col("pos") <= k)
    import math  # noqa: PLC0415

    idcg = sum((k + 1 - r) / math.log2(r + 1) for r in range(1, k + 1))
    per_q = (
        pos.join(rel, ["query_id", "neighbor_id"], "left")
        .withColumn(
            "g",
            F.coalesce(F.col("rel"), F.lit(0.0))
            / F.log2(F.col("pos") + 1),
        )
        .groupBy("query_id")
        .agg((F.sum("g") / F.lit(idcg)).alias("ndcg"))
    )
    # Aggregate from the TRUTH side (like _recall_gate): a query for
    # which the index returns ZERO candidates must score 0.0, not
    # vanish from the mean — grouping the approx side alone would
    # silently inflate the gate under total per-query retrieval
    # failure (review-caught).
    return (
        truth.select("query_id")
        .distinct()
        .join(per_q, "query_id", "left")
        .agg(
            F.lit("lsh_ndcg_at_10").alias("metric"),
            (
                F.avg(F.coalesce(F.col("ndcg"), F.lit(0.0))) >= 0.95
            ).alias("passed"),
        )
    )


@_register(
    "seasonal_anomaly_days",
    f"""
    WITH decomp AS ({{decomp}}),
    r AS (
      SELECT event_type, day_index, cents, remainder
      FROM decomp WHERE remainder IS NOT NULL
    ), med AS (
      SELECT event_type,
             (MAX(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                  THEN remainder END)
              + MAX(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
                    THEN remainder END)) / 2.0 AS med_r
      FROM (SELECT event_type, remainder,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY remainder, day_index) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n
            FROM r)
      GROUP BY event_type
    ), dev AS (
      SELECT r.event_type, day_index, cents, remainder, med_r,
             ABS(remainder - med_r) AS adev
      FROM r JOIN med ON med.event_type = r.event_type
    ), mad AS (
      SELECT event_type,
             (MAX(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                  THEN adev END)
              + MAX(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
                    THEN adev END)) / 2.0 AS mad_r
      FROM (SELECT event_type, adev,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY adev, day_index) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n
            FROM dev)
      GROUP BY event_type
    ), scored AS (
      SELECT dev.event_type, day_index, cents,
             CASE WHEN mad_r > 0 THEN
               0.6745 * (remainder - med_r) / mad_r END AS mz,
             ROW_NUMBER() OVER (PARTITION BY dev.event_type
               ORDER BY CASE WHEN mad_r > 0 THEN
                          ABS(0.6745 * (remainder - med_r) / mad_r)
                        ELSE 0.0 END DESC, day_index ASC) AS rk
      FROM dev JOIN mad ON mad.event_type = dev.event_type
    )
    SELECT event_type, day_index, cents,
           {{mz}} AS modified_z,
           CASE WHEN mz IS NOT NULL AND ABS(mz) > 3.5
                THEN TRUE ELSE FALSE END AS is_anomaly
    FROM scored WHERE rk <= 3
    ORDER BY event_type, day_index
    """.format(
        decomp="{decomp}", mz=sql_dround("mz", 6)
    ).format(decomp=_DECOMP_ORACLE),
    doc="Seasonally-adjusted anomaly detection per event type — the "
    "DETECT step completing the monitor family (test: ks/chi2/mw/"
    "psi; locate: cusum; trend: ols/theilsen/mann-kendall; decompose: "
    "classical; detect: THIS): the Iglewicz-Hoaglin modified z-score "
    "0.6745·(r − median(r))/MAD(r) over the decomposition REMAINDER, "
    "so weekly seasonality never masquerades as an anomaly; the 3.5 "
    "threshold is the published cut. Reports each type's top-3 "
    "|modified z| days with the flag. Determinism: remainders enter "
    "already dround(6) (bit-identical), medians/MAD are exact order "
    "statistics over them (floor((n+k)/2) picks, day tiebreak), and "
    "the score is one IEEE expression (dround 6; an all-tied series "
    "has MAD 0 and yields NULL scores — try_divide twin of the "
    "oracle's CASE). Scale: everything after the (type, day) rollup "
    "is calendar-bounded windows partitioned by series key.",
    parts=8,
)
def q_seasonal_anomaly_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    r = (
        _decomposed_daily(spark, sf_dir)
        .filter(F.col("remainder").isNotNull())
        .select("event_type", "day_index", "cents", "remainder")
    )

    def med_of(df: DataFrame, col: str, out: str) -> DataFrame:
        wr = Window.partitionBy("event_type").orderBy(
            F.col(col), F.col("day_index")
        )
        wn = Window.partitionBy("event_type")
        ranked = df.withColumn("rn", F.row_number().over(wr)).withColumn(
            "n", F.count(F.lit(1)).over(wn).cast("bigint")
        )
        lo = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
        hi = F.floor((F.col("n") + 2) / 2.0).cast("bigint")
        return ranked.groupBy("event_type").agg(
            (
                (
                    F.max(F.when(F.col("rn") == lo, F.col(col)))
                    + F.max(F.when(F.col("rn") == hi, F.col(col)))
                )
                / 2.0
            ).alias(out)
        )

    med = med_of(r, "remainder", "med_r").withColumnRenamed(
        "event_type", "__et"
    )
    dev = (
        r.join(F.broadcast(med), F.col("event_type") == F.col("__et"))
        .drop("__et")
        .withColumn("adev", F.abs(F.col("remainder") - F.col("med_r")))
    )
    mad = med_of(dev, "adev", "mad_r").withColumnRenamed(
        "event_type", "__et"
    )
    mz = F.when(
        F.col("mad_r") > 0,
        0.6745 * (F.col("remainder") - F.col("med_r")) / F.col("mad_r"),
    )
    scored = (
        dev.join(F.broadcast(mad), F.col("event_type") == F.col("__et"))
        .drop("__et")
        .withColumn("mz", mz)
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.coalesce(F.abs(F.col("mz")), F.lit(0.0)).desc(),
        F.col("day_index").asc(),
    )
    return (
        scored.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            "day_index",
            "cents",
            dround(F.col("mz"), 6).alias("modified_z"),
            F.coalesce(
                F.abs(F.col("mz")) > 3.5, F.lit(False)
            ).alias("is_anomaly"),
        )
        .orderBy("event_type", "day_index")
    )
