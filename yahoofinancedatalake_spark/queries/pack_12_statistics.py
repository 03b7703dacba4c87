"""Statistics wave 1: rank correlation, KS drift, quality gates (split from pack.py, r7 — pure refactor).

Registers 17 queries (registration order is the
import order in pack.py):
- ``spearman_trend``
- ``ks_drift_gate``
- ``macd_crossover``
- ``basket_pairs``
- ``triangle_count``
- ``prefix_filter_jaccard``
- ``zorder_layout``
- ``incremental_agg_gate``
- ``session_pattern_match``
- ``orc_roundtrip``
- ``compact_files_eq``
- ``schema_evolution_eq``
- ``bfs_levels``
- ``interval_concurrency``
- ``editdist_blocked_join``
- ``pmi_collocations``
- ``dq_expectations``
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
from yahoofinancedatalake_spark.queries.pack_04_dedup_ann import (
    _SQL_SHINGLES,
)
from yahoofinancedatalake_spark.queries.pack_07_training_prep import (
    _WORD_TOKS_SQL,
    _word_toks,
)
from yahoofinancedatalake_spark.session import stage_boundary


# ---------------------------------------------------------------------------
# Statistics extensions (r5 final): rank correlation + two-sample KS drift
# ---------------------------------------------------------------------------


@_register(
    "spearman_trend",
    f"""
    WITH ranked AS (
      SELECT event_type,
             rank() OVER (PARTITION BY event_type ORDER BY ts NULLS LAST)
               + (count(*) OVER (PARTITION BY event_type, ts) - 1)
                 / 2.0 AS rx,
             rank() OVER (PARTITION BY event_type ORDER BY value NULLS LAST)
               + (count(*) OVER (PARTITION BY event_type, value) - 1)
                 / 2.0 AS ry
      FROM events
    ), sums AS (
      SELECT event_type,
             count(*) AS n,
             {sql_dround("sum(rx)", 2)} AS sx,
             {sql_dround("sum(ry)", 2)} AS sy,
             {sql_dround("sum(rx * ry)", 2)} AS sxy,
             {sql_dround("sum(rx * rx)", 2)} AS sxx,
             {sql_dround("sum(ry * ry)", 2)} AS syy
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n,
           {sql_dround(
               "(n * sxy - sx * sy)"
               " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 4)}
             AS spearman
    FROM sums
    """,
    doc="Spearman rank correlation between event time and value per "
    "type — monotonic-trend detection, the rank-based sibling of "
    "pairwise_correlation's Pearson. Tie-corrected AVERAGE ranks "
    "computed windowless-join-free as rank() + (tie_count - 1)/2 "
    "(identical tie semantics in both engines), then the closed-form "
    "Pearson on ranks with fixed-point sums. Ranks are integers "
    "or .5 halves, so every sum is lattice-valued. Two window passes "
    "over one (event_type)-partitioned sort, one aggregation.",
    parts=8,
)
def q_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts"),
        F.col("value").cast("double").alias("v"),
    )
    # asc_nulls_last pins Spark to DuckDB's ASC default (Spark's asc
    # is NULLS FIRST) — parity must not depend on the data being
    # null-free
    rx = F.rank().over(
        Window.partitionBy("event_type").orderBy(F.col("ts").asc_nulls_last())
    ) + (F.count(F.lit(1)).over(Window.partitionBy("event_type", "ts")) - 1) / 2.0
    ry = F.rank().over(
        Window.partitionBy("event_type").orderBy(F.col("v").asc_nulls_last())
    ) + (F.count(F.lit(1)).over(Window.partitionBy("event_type", "v")) - 1) / 2.0
    ranked = ev.select("event_type", rx.alias("rx"), ry.alias("ry"))
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("rx"), 2).alias("sx"),
        dround(F.sum("ry"), 2).alias("sy"),
        dround(F.sum(F.col("rx") * F.col("ry")), 2).alias("sxy"),
        dround(F.sum(F.col("rx") * F.col("rx")), 2).alias("sxx"),
        dround(F.sum(F.col("ry") * F.col("ry")), 2).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return sums.select(
        "event_type",
        "n",
        dround(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("spearman"),
    )


@_register(
    "ks_drift_gate",
    f"""
    WITH tagged AS (
      SELECT event_type, value::DOUBLE AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS is_a
      FROM events
    ), per_value AS (
      SELECT event_type, v,
             sum(is_a) AS a_cnt,
             sum(1 - is_a) AS b_cnt
      FROM tagged GROUP BY event_type, v
    ), cum AS (
      SELECT event_type, v,
             sum(a_cnt) OVER w AS cum_a,
             sum(b_cnt) OVER w AS cum_b,
             sum(a_cnt) OVER (PARTITION BY event_type) AS n_a,
             sum(b_cnt) OVER (PARTITION BY event_type) AS n_b
      FROM per_value
      WINDOW w AS (PARTITION BY event_type ORDER BY v NULLS LAST
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           {sql_dround(
               "max(abs(cum_a::DOUBLE / n_a - cum_b::DOUBLE / n_b))", 4)}
             AS ks_stat
    FROM cum
    GROUP BY event_type
    """,
    doc="Two-sample Kolmogorov-Smirnov drift statistic per event "
    "type: value distribution of the first half-month vs the rest — "
    "the distribution-shift monitor a training-data pipeline runs "
    "between snapshots (the nonparametric sibling of snapshot_diff's "
    "row-level comparison and column_profile's moments). Exact "
    "sup-norm CDF distance: ties collapse in a per-(type, value) "
    "pre-aggregation, the empirical CDFs are cumulative window sums "
    "over the distinct-value table (tie handling is exact because "
    "both CDFs step together at a shared value), and the max |F_A - "
    "F_B| aggregates map-side. Exchange profile: one (type, value) "
    "shuffle + one (type)-partitioned sort over DISTINCT values — "
    "the corpus-sized scan never re-sorts raw rows.",
    parts=8,
)
def q_ks_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
        ).otherwise(0).alias("is_a"),
    )
    per_value = ev.groupBy("event_type", "v").agg(
        F.sum("is_a").alias("a_cnt"),
        F.sum(1 - F.col("is_a")).alias("b_cnt"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("v").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = per_value.select(
        "event_type",
        F.sum("a_cnt").over(wcum).alias("cum_a"),
        F.sum("b_cnt").over(wcum).alias("cum_b"),
        F.sum("a_cnt").over(wall).alias("n_a"),
        F.sum("b_cnt").over(wall).alias("n_b"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        dround(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("n_a")
                    - F.col("cum_b").cast("double") / F.col("n_b")
                )
            ),
            4,
        ).alias("ks_stat"),
    )


# MACD: truncated renormalized FIR EMAs (the ewma_smooth convention —
# the tap cut is part of the operator definition, identical on both
# engines, so values are bit-identical left-associated double sums).
_MACD_TAPS = 40
_MACD_WF = 11.0 / 13.0   # span-12 EMA decay (1 - 2/(12+1))
_MACD_WS = 25.0 / 27.0   # span-26 EMA decay
_MACD_SIG_TAPS = 30
_MACD_WSIG = 0.8         # span-9 EMA decay (1 - 2/(9+1))


def _fir_sql(col: str, w: float, taps: int) -> str:
    """Renormalized truncated-EMA FIR over window ``w`` in SQL text.

    Weight literals are cast to DOUBLE: DuckDB parses a 16-digit
    decimal literal as DECIMAL(16,16) and would run the 40-term
    renormalization sum in fixed-point DECIMAL(18,16), which both
    overflows and diverges from Spark's IEEE-double sum."""
    num = [col]
    den = ["CAST(1.0 AS DOUBLE)"]
    for j in range(1, taps):
        wj = f"CAST({w**j!r} AS DOUBLE)"
        num.append(f"{wj} * coalesce(lag({col}, {j}) OVER w, 0.0)")
        den.append(
            f"CASE WHEN lag({col}, {j}) OVER w IS NULL THEN 0.0 ELSE {wj} END"
        )
    return f"({' + '.join(num)}) / ({' + '.join(den)})"


def _fir_col(col: str, w: float, taps: int, wn) -> Column:
    """The same FIR as :func:`_fir_sql`, as a Spark expression tree —
    term-for-term identical association order."""
    from functools import reduce  # noqa: PLC0415
    from operator import add  # noqa: PLC0415

    num = [F.col(col)]
    den = [F.lit(1.0)]
    for j in range(1, taps):
        wj = w**j
        lagj = F.lag(col, j).over(wn)
        num.append(F.lit(wj) * F.coalesce(lagj, F.lit(0.0)))
        den.append(F.when(lagj.isNull(), F.lit(0.0)).otherwise(F.lit(wj)))
    return reduce(add, num) / reduce(add, den)


@_register(
    "macd_crossover",
    f"""
    WITH m AS (
      SELECT event_id, event_type, ts,
             {sql_dround(
                 f"({_fir_sql('value', _MACD_WF, _MACD_TAPS)})"
                 f" - ({_fir_sql('value', _MACD_WS, _MACD_TAPS)})", 6)}
               AS macd
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
      SELECT event_id, event_type, ts, macd,
             {sql_dround(
                 _fir_sql('macd', _MACD_WSIG, _MACD_SIG_TAPS), 6)}
               AS signal
      FROM m
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), h AS (
      SELECT event_id, event_type, ts, macd, signal,
             {sql_dround("macd - signal", 6)} AS hist
      FROM s
    ), x AS (
      SELECT event_id, ts, macd, signal, hist,
             lag(hist) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS prev_hist
      FROM h
    )
    SELECT event_id, ts, macd, signal, hist,
           CASE WHEN hist >= 0 THEN 'bull' ELSE 'bear' END AS direction
    FROM x
    WHERE prev_hist IS NOT NULL AND sign(hist) <> sign(prev_hist)
    ORDER BY ts, event_id
    """,
    doc="MACD(12,26,9) crossover detection on the purchase price "
    "series — the missing classic next to RSI/Bollinger/EWMA in the "
    "technical-analysis family. Fast and slow EMAs are 40-tap "
    "renormalized FIR filters, the signal line a 30-tap FIR over the "
    "dround'd MACD column (the ewma_smooth convention: the tap cut "
    "IS the operator definition, so both engines sum identical "
    "left-associated double terms and every value matches "
    "bit-exactly). Emits only histogram sign-change rows with the "
    "crossing direction. All 100 lags come out of TWO window sorts "
    "(one per stage) partitioned by series key — at 100 TB each "
    "symbol sorts independently, no global sort, state bounded by "
    "the tap count.",
    parts=8,
)
def q_macd_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    wn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    m = events.select(
        "event_id",
        "event_type",
        "ts",
        dround(
            _fir_col("value", _MACD_WF, _MACD_TAPS, wn)
            - _fir_col("value", _MACD_WS, _MACD_TAPS, wn),
            6,
        ).alias("macd"),
    )
    s = m.select(
        "event_id",
        "event_type",
        "ts",
        "macd",
        dround(
            _fir_col("macd", _MACD_WSIG, _MACD_SIG_TAPS, wn), 6
        ).alias("signal"),
    )
    h = s.select(
        "event_id",
        "event_type",
        "ts",
        "macd",
        "signal",
        dround(F.col("macd") - F.col("signal"), 6).alias("hist"),
    )
    x = h.withColumn("prev_hist", F.lag("hist").over(wn))
    return (
        x.filter(
            F.col("prev_hist").isNotNull()
            & (F.signum("hist") != F.signum("prev_hist"))
        )
        .select(
            "event_id",
            "ts",
            "macd",
            "signal",
            "hist",
            F.when(F.col("hist") >= 0, F.lit("bull"))
            .otherwise(F.lit("bear"))
            .alias("direction"),
        )
        .orderBy("ts", "event_id")
    )


@_register(
    "basket_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem
    ), freq AS (
      SELECT pk FROM items GROUP BY pk HAVING count(*) >= 2
    ), pruned AS (
      SELECT i.ok, i.pk FROM items i JOIN freq f USING (pk)
    ), pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b,
             CAST(count(*) AS BIGINT) AS support
      FROM pruned a JOIN pruned b
        ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, support
    FROM pairs
    ORDER BY support DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
    doc="Market-basket frequent part pairs (the A-priori L2 pass): "
    "distinct (order, part) items, the A-priori pruning theorem "
    "applied first (a part in fewer than min_support orders cannot "
    "appear in a frequent pair, so infrequent items are semi-joined "
    "away BEFORE pair generation), then within-order pair expansion "
    "and a (part_a, part_b) count with min support 2, top-20 "
    "deterministic. Scale shape: pair expansion is bounded by "
    "basket size squared per order (TPC-H baskets are <= 7 lines), "
    "the frequent-item filter is a broadcast semi-join, and the "
    "pair count combines map-side — the only wide exchange is the "
    "(part_a, part_b) aggregation.",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # materialize the distinct item table ONCE (r13): it feeds the
    # frequent-item count AND both sides of the within-order pair
    # join — un-materialized, the lineitem scan + distinct shuffle
    # re-executed three times (plan: 8 parquet scans for a 1-scan
    # pipeline). The checkpoint holds (order, part) key rows only.
    items = li.distinct().transform(stage_boundary)
    freq = (
        items.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pk")
    )
    pruned = items.join(F.broadcast(freq), "pk")
    a = pruned.select("ok", F.col("pk").alias("part_a"))
    b = pruned.select("ok", F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return pairs.orderBy(
        F.col("support").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(20)


@_register(
    "triangle_count",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0
    ), e AS (
      SELECT DISTINCT a.pk AS a, b.pk AS b
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ), deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT sum(deg * (deg - 1) // 2)::BIGINT FROM deg)
             AS n_wedges,
           n_triangles::BIGINT AS n_triangles,
           {sql_dround(
               "CASE WHEN (SELECT sum(deg * (deg - 1) // 2) FROM deg) > 0"
               " THEN 3.0 * n_triangles"
               " / (SELECT sum(deg * (deg - 1) // 2) FROM deg)"
               " ELSE 0.0 END", 6)} AS global_clustering
    FROM tri
    """,
    doc="Triangle census of the part co-purchase graph (parts linked "
    "when bought in the same order; a deterministic 10%-of-orders "
    "key-mod sample keeps the graph comparable across scale "
    "factors). Spark plan is the degree-ordered orientation (Cohen "
    "2009 / Suri-Vassilvitskii WWW'11): edges orient from the "
    "(deg,id)-smaller endpoint, wedges enumerate ONLY at each "
    "triangle's unique apex, and close against the canonical edge "
    "list — wedge volume is O(m^1.5) regardless of degree skew, the "
    "fix for the power-law 'last reducer' at 100 TB. The oracle "
    "counts the same triangles by the naive a<b<c three-way join "
    "(orientation-invariant, so implementation and ground truth are "
    "independent formulations). Output: nodes/edges/wedges/triangles "
    "+ global clustering coefficient.",
    parts=8,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.graph import (  # noqa: PLC0415
        triangle_stats,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    )
    # one lineitem scan (r13): the distinct item table feeds both
    # sides of the co-purchase self-join (triangle_stats checkpoints
    # the edge list it builds, so the join itself now runs once too)
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().transform(stage_boundary)
    a = items.select("ok", F.col("pk").alias("a"))
    b = items.select("ok", F.col("pk").alias("b"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return triangle_stats(edges)


@_register(
    "prefix_filter_jaccard",
    f"""
    WITH {_SQL_SHINGLES},
    ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), sz AS (
      SELECT doc_id, count(*) AS m FROM ex GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           i::DOUBLE / (sa.m + sb.m - i) AS jaccard
    FROM inter
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    WHERE i::DOUBLE / (sa.m + sb.m - i) >= 0.8
    ORDER BY id_a, id_b
    """,
    doc="Exact all-pairs shingle Jaccard >= 0.8 via PREFIX FILTERING "
    "(Chaudhuri/Ganti/Kaushik ICDE'06, Bayardo et al. WWW'07) — the "
    "loss-FREE third rung of the near-dup ladder next to MinHash "
    "(probabilistic) and SimHash (radius-bounded): tokens ordered "
    "rarest-first by document frequency, each doc keeps only its "
    "first m - ceil(t*m) + 1 tokens as a prefix (integer-exact ceil "
    "— IEEE ceil(0.8*5)=5 would silently shorten prefixes and lose "
    "pairs), qualifying pairs provably share a prefix token on both "
    "sides, and the surviving candidates verify with the exact "
    "ngram_jaccard kernel. The oracle computes ground truth by the "
    "full inverted-index join WITHOUT the prefix pruning, so the "
    "gate checks the losslessness theorem itself, not a shared "
    "implementation. Plan: token-keyed equi-joins only, per-doc "
    "window bounded by doc length, no LSH miss probability, no "
    "crossJoin.",
    parts=8,
)
def q_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        ngram_jaccard,
        prefix_filter_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)  # single-row-group file → parallelize the hot compute
    cand = prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.8, shingle_n=3
    )
    return (
        ngram_jaccard(cand, docs, "doc_id", "text", shingle_n=3)
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    )


def _z_interleave_sql(gx: str, gy: str, bits: int = 16) -> str:
    """Bit-interleaved z-value of two ``bits``-wide grid coords, SQL."""
    terms = []
    for i in range(bits):
        terms.append(f"((({gx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({gy} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _zorder_oracle_sql() -> str:
    z = _z_interleave_sql("gx", "gy")
    return f"""
    WITH st AS (
      SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
             min(l_suppkey) AS mins, max(l_suppkey) AS maxs,
             min(l_orderkey) AS mino, max(l_orderkey) AS maxo
      FROM lineitem
    ), g AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(floor((l_partkey - minp) * 65535.0
                        / greatest(maxp - minp, 1)) AS BIGINT) AS gx,
             CAST(floor((l_suppkey - mins) * 65535.0
                        / greatest(maxs - mins, 1)) AS BIGINT) AS gy,
             CAST(floor((l_orderkey - mino) * 64.0
                        / (maxo - mino + 1)) AS BIGINT) AS nf,
             minp + floor(0.45 * (maxp - minp)) AS pk_lo,
             minp + floor(0.55 * (maxp - minp)) AS pk_hi,
             mins + floor(0.45 * (maxs - mins)) AS sk_lo,
             mins + floor(0.55 * (maxs - mins)) AS sk_hi
      FROM lineitem CROSS JOIN st
    ), z AS (
      SELECT pk, sk, nf, ({z}) >> 26 AS zf,
             pk_lo, pk_hi, sk_lo, sk_hi
      FROM g
    ), zf AS (
      SELECT zf AS f, min(pk) AS minpk, max(pk) AS maxpk,
             min(sk) AS minsk, max(sk) AS maxsk,
             count(*) AS rows_, min(pk_lo) AS pk_lo,
             min(pk_hi) AS pk_hi, min(sk_lo) AS sk_lo,
             min(sk_hi) AS sk_hi
      FROM z GROUP BY zf
    ), nf AS (
      SELECT nf AS f, min(pk) AS minpk, max(pk) AS maxpk,
             min(sk) AS minsk, max(sk) AS maxsk,
             count(*) AS rows_, min(pk_lo) AS pk_lo,
             min(pk_hi) AS pk_hi, min(sk_lo) AS sk_lo,
             min(sk_hi) AS sk_hi
      FROM z GROUP BY nf
    )
    SELECT layout, probe_dim,
           CAST(files_total AS BIGINT) AS files_total,
           CAST(files_kept AS BIGINT) AS files_kept,
           CAST(rows_kept AS BIGINT) AS rows_kept
    FROM (
      SELECT 'zorder' AS layout, 'partkey' AS probe_dim,
             count(*) AS files_total,
             sum(CASE WHEN minpk <= pk_hi AND maxpk >= pk_lo
                 THEN 1 ELSE 0 END) AS files_kept,
             sum(CASE WHEN minpk <= pk_hi AND maxpk >= pk_lo
                 THEN rows_ ELSE 0 END) AS rows_kept
      FROM zf
      UNION ALL
      SELECT 'zorder', 'suppkey', count(*),
             sum(CASE WHEN minsk <= sk_hi AND maxsk >= sk_lo
                 THEN 1 ELSE 0 END),
             sum(CASE WHEN minsk <= sk_hi AND maxsk >= sk_lo
                 THEN rows_ ELSE 0 END)
      FROM zf
      UNION ALL
      SELECT 'natural', 'partkey', count(*),
             sum(CASE WHEN minpk <= pk_hi AND maxpk >= pk_lo
                 THEN 1 ELSE 0 END),
             sum(CASE WHEN minpk <= pk_hi AND maxpk >= pk_lo
                 THEN rows_ ELSE 0 END)
      FROM nf
      UNION ALL
      SELECT 'natural', 'suppkey', count(*),
             sum(CASE WHEN minsk <= sk_hi AND maxsk >= sk_lo
                 THEN 1 ELSE 0 END),
             sum(CASE WHEN minsk <= sk_hi AND maxsk >= sk_lo
                 THEN rows_ ELSE 0 END)
      FROM nf
    )
    ORDER BY layout, probe_dim
    """


@_register(
    "zorder_layout",
    _zorder_oracle_sql(),
    doc="Z-order data-layout audit — an oracle-gated measurement of "
    "how well a Morton-curve file layout would prune, computed over "
    "lineitem without landing any files: "
    "both probe dimensions are min/max-scaled onto a 16-bit grid "
    "(integer-exact arithmetic from a 1-row stats aggregate folded "
    "in via the data-derived constant-key broadcast join, never a "
    "driver collect), bit-interleaved into a 32-bit Morton code, "
    "and rows are binned into 64 z-files (top 6 code bits) vs 64 "
    "ingest-order files (orderkey ranges). For a 10%-band probe on "
    "EACH dimension the query emits per-layout file-skipping "
    "effectiveness (files kept / rows kept under min-max pruning) — "
    "demonstrating the z-layout prunes on BOTH columns while the "
    "ingest layout prunes on neither. The interleave is a plain "
    "64-term shift/mask expression (whole-stage codegen, no UDF), "
    "identical in SQL on the oracle side.",
    parts=8,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        F.col("l_orderkey").alias("ok"),
    )
    stats = (
        li.agg(
            F.min("pk").alias("minp"),
            F.max("pk").alias("maxp"),
            F.min("sk").alias("mins"),
            F.max("sk").alias("maxs"),
            F.min("ok").alias("mino"),
            F.max("ok").alias("maxo"),
        )
        .withColumn("__k", _const_key(F.col("minp")))
    )
    t = li.withColumn("__k", _const_key(F.col("pk"))).join(
        F.broadcast(stats), "__k"
    )
    gx = F.floor(
        (F.col("pk") - F.col("minp"))
        * F.lit(65535.0)
        / F.greatest(F.col("maxp") - F.col("minp"), F.lit(1))
    )
    gy = F.floor(
        (F.col("sk") - F.col("mins"))
        * F.lit(65535.0)
        / F.greatest(F.col("maxs") - F.col("mins"), F.lit(1))
    )
    nf = F.floor(
        (F.col("ok") - F.col("mino"))
        * F.lit(64.0)
        / (F.col("maxo") - F.col("mino") + F.lit(1))
    )
    g = t.select(
        "pk",
        "sk",
        gx.alias("gx"),
        gy.alias("gy"),
        nf.alias("nf"),
        (
            F.col("minp")
            + F.floor(F.lit(0.45) * (F.col("maxp") - F.col("minp")))
        ).alias("pk_lo"),
        (
            F.col("minp")
            + F.floor(F.lit(0.55) * (F.col("maxp") - F.col("minp")))
        ).alias("pk_hi"),
        (
            F.col("mins")
            + F.floor(F.lit(0.45) * (F.col("maxs") - F.col("mins")))
        ).alias("sk_lo"),
        (
            F.col("mins")
            + F.floor(F.lit(0.55) * (F.col("maxs") - F.col("mins")))
        ).alias("sk_hi"),
    )
    from functools import reduce  # noqa: PLC0415
    from operator import add  # noqa: PLC0415

    zterms = []
    for i in range(16):
        zterms.append(
            F.shiftleft(
                F.shiftright(F.col("gx"), i).bitwiseAND(F.lit(1)), 2 * i
            )
        )
        zterms.append(
            F.shiftleft(
                F.shiftright(F.col("gy"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        )
    z = g.withColumn("zf", F.shiftright(reduce(add, zterms), 26))

    def files(by: str) -> DataFrame:
        return z.groupBy(F.col(by).alias("f")).agg(
            F.min("pk").alias("minpk"),
            F.max("pk").alias("maxpk"),
            F.min("sk").alias("minsk"),
            F.max("sk").alias("maxsk"),
            F.count(F.lit(1)).alias("rows_"),
            F.min("pk_lo").alias("pk_lo"),
            F.min("pk_hi").alias("pk_hi"),
            F.min("sk_lo").alias("sk_lo"),
            F.min("sk_hi").alias("sk_hi"),
        )

    zfiles = stage_boundary(files("zf"))
    nfiles = stage_boundary(files("nf"))

    def probe(fdf: DataFrame, layout: str, dim: str) -> DataFrame:
        lo, hi, mn, mx = (
            ("pk_lo", "pk_hi", "minpk", "maxpk")
            if dim == "partkey"
            else ("sk_lo", "sk_hi", "minsk", "maxsk")
        )
        keep = (F.col(mn) <= F.col(hi)) & (F.col(mx) >= F.col(lo))
        return fdf.agg(
            F.count(F.lit(1)).cast("bigint").alias("files_total"),
            F.sum(F.when(keep, 1).otherwise(0))
            .cast("bigint")
            .alias("files_kept"),
            F.sum(F.when(keep, F.col("rows_")).otherwise(0))
            .cast("bigint")
            .alias("rows_kept"),
        ).select(
            F.lit(layout).alias("layout"),
            F.lit(dim).alias("probe_dim"),
            "files_total",
            "files_kept",
            "rows_kept",
        )

    return (
        probe(zfiles, "zorder", "partkey")
        .unionByName(probe(zfiles, "zorder", "suppkey"))
        .unionByName(probe(nfiles, "natural", "partkey"))
        .unionByName(probe(nfiles, "natural", "suppkey"))
        .orderBy("layout", "probe_dim")
    )


@_register(
    "incremental_agg_gate",
    """
    SELECT event_type,
           CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           sum(CAST(floor(value * 100) AS BIGINT))::DOUBLE / count(*)
             AS avg_cents
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    ORDER BY event_type, d
    """,
    doc="Incremental aggregate maintenance under an EXACT full-"
    "recompute oracle: the events stream is split by event-id parity "
    "into a landed history and a late-arriving batch (every "
    "(type, day) key receives rows from BOTH, so the merge is real, "
    "not a disjoint union), each side aggregates independently to "
    "(n, sum) partials, and the partials merge by key — the "
    "algebraic-decomposition pattern every 100 TB daily pipeline "
    "uses to avoid re-scanning history (avg does not merge; "
    "(sum, count) does). Values are integer cents (floor(value*100) "
    "— floor, never engine-divergent casts or half-rounding) so "
    "integer associativity makes incremental == full recompute "
    "EXACTLY, and the oracle is the genuine one-pass recompute, not "
    "a replay of the two-phase plan. The derived avg is an exact "
    "int/int IEEE quotient.",
    parts=8,
)
def q_incremental_agg_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id"),
    )
    hist = ev.filter(F.col("event_id") % 2 == 0)
    batch = ev.filter(F.col("event_id") % 2 == 1)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "d").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    merged = (
        partial(hist)
        .unionByName(partial(batch))
        .groupBy("event_type", "d")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        )
    )
    return merged.select(
        "event_type",
        "d",
        "n",
        "sum_cents",
        (F.col("sum_cents").cast("double") / F.col("n")).alias("avg_cents"),
    ).orderBy("event_type", "d")


@_register(
    "session_pattern_match",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, 'v+p')) AS BIGINT)
             AS n_conversions,
           CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT)
             AS n_error_runs
    FROM seq
    ORDER BY user_id
    """,
    doc="MATCH_RECOGNIZE-style event-sequence pattern matching: each "
    "user's event history collapses to a compact per-user symbol "
    "string (first letter of the event type, ordered by (ts, "
    "event_id) — the alphabet c/e/p/s/v is prefix-distinct), and "
    "funnel patterns are counted as leftmost non-overlapping regex "
    "matches: 'v+p' = a view-run converting to purchase, 'ee+' = "
    "consecutive-error incidents. Deterministic across engines "
    "because greedy leftmost matching of a backtracking-free "
    "pattern is engine-invariant. Spark side is pure expressions "
    "(sort_array over (ts, event_id, symbol) structs -> array_join "
    "-> regexp_count): ONE shuffle on user_id, per-user state "
    "bounded by the user's own history — the sequence-analytics "
    "sibling of event_transitions (which counts only adjacent "
    "pairs) and funnel_stages (which checks one fixed stage "
    "order).",
    parts=8,
)
def q_session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.substring("event_type", 1, 1).alias("ch"),
        ).alias("rec"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("rec")), lambda r: r["ch"]
            ),
            "",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("bigint").alias("seq_len"),
        F.regexp_count("s", F.lit("v+p")).cast("bigint").alias(
            "n_conversions"
        ),
        F.regexp_count("s", F.lit("ee+")).cast("bigint").alias(
            "n_error_runs"
        ),
    ).orderBy("user_id")


@_register(
    "orc_roundtrip",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_quantity <= 10
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="ORC format round-trip under the value gate: a lineitem "
    "projection lands as hive-partitioned ORC (partitioned by "
    "l_returnflag), is read back through Spark's vectorized ORC "
    "reader with a partition-pruning-eligible layout and a "
    "pushdown-eligible l_quantity predicate, and must aggregate to "
    "the EXACT integer-cent totals the oracle computes straight "
    "from the source Parquet — format-conversion value parity, not "
    "just row counts. Extends §2.1's source/sink matrix (JSON, "
    "Parquet, CSV, REST) with the second columnar format; scan "
    "contracts (pruning, pushdown) carry over unchanged.",
    parts=8,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.sources.orc_io import (  # noqa: PLC0415
        read_orc,
        write_orc,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        F.floor(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
        "l_returnflag",
    )
    path = _scratch(spark).path("lineitem_orc")
    write_orc(li, path, partition_by=["l_returnflag"])
    back = read_orc(spark, path)
    return (
        back.filter(F.col("l_quantity") <= 10)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "compact_files_eq",
    """
    SELECT o_orderkey, o_custkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey % 3 = 0
    ORDER BY o_orderkey
    """,
    doc="Small-files compaction under the DRIVER value gate: an "
    "orders slice lands fragmented across 64 tiny "
    "files (the streaming-sink / incremental-upsert accumulation "
    "pattern), compact_parquet rewrites it to ~target-size files via "
    "the crash-safe sibling-dir double-rename, and the compacted "
    "table must hash-match the oracle's view of the ORIGINAL data — "
    "compaction is pure layout, zero value drift. The gate also "
    "asserts the file count actually dropped (returned count < 64) "
    "by failing the read if not. At 100 TB scan task count and "
    "listing load follow file count; ~128 MB compaction is standard "
    "lake maintenance.",
    parts=8,
)
def q_compact_files_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.sources.parquet_io import (  # noqa: PLC0415
        compact_parquet,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0
    )
    sl = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = _scratch(spark).path("orders_small_files")
    sl.repartition(64).write.mode("overwrite").parquet(path)
    n_after = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    if n_after >= 64:
        raise AssertionError(
            f"compaction did not reduce file count: {n_after} >= 64"
        )
    return spark.read.parquet(path).orderBy("o_orderkey")


@_register(
    "schema_evolution_eq",
    """
    SELECT o_orderkey,
           o_custkey,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END
             AS o_orderstatus
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="Additive schema evolution under the DRIVER value gate: "
    "generation 1 of a bronze dir lands orders WITHOUT "
    "o_orderstatus (even keys), generation 2 lands it WITH the new "
    "column (odd keys) — the vendor-added-a-field drift every "
    "long-lived ingest hits. read_parquet_evolving (mergeSchema) "
    "must read both generations as one table where gen-1 rows carry "
    "NULL for the added column, value-hash-equal to the oracle's "
    "CASE reconstruction from the source table. Renames/retypes "
    "stay out of scope by design — those are silver migrations, not "
    "read options.",
    parts=8,
)
def q_schema_evolution_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.sources.parquet_io import (  # noqa: PLC0415
        read_parquet_evolving,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = _scratch(spark).path("orders_bronze")
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    gen1.write.mode("overwrite").parquet(f"{path}/gen=1")
    gen2.write.mode("overwrite").parquet(f"{path}/gen=2")
    return (
        read_parquet_evolving(spark, path)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def _bfs_oracle_sql(rounds: int = 3) -> str:
    """Replay of bfs_levels: frontier expansion as chained CTEs (the
    kmeans/MMR/PageRank unrolling convention)."""
    parts = ["""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0
    ), eu AS (
      SELECT DISTINCT a.pk AS a, b.pk AS b
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ), e AS (
      SELECT a AS src, b AS dst FROM eu
      UNION ALL
      SELECT b AS src, a AS dst FROM eu
    ), src AS (
      SELECT min(a) AS s FROM eu
    ), v0 AS (
      SELECT s AS node, 0 AS level FROM src
    )"""]
    prev = "v0"
    for i in range(1, rounds + 1):
        parts.append(f""", f{i} AS (
      SELECT DISTINCT e.dst AS node
      FROM {prev} v JOIN e ON e.src = v.node
      WHERE v.level = {i - 1}
    ), v{i} AS (
      SELECT node, level FROM {prev}
      UNION ALL
      SELECT f.node, {i} AS level
      FROM f{i} f
      WHERE f.node NOT IN (SELECT node FROM {prev})
    )""")
        prev = f"v{i}"
    parts.append(f"""
    SELECT level,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM {prev}
    GROUP BY level
    ORDER BY level
    """)
    return "".join(parts)


@_register(
    "bfs_levels",
    _bfs_oracle_sql(),
    doc="Single-source BFS over the part co-purchase graph (source = "
    "smallest part in the graph, 3 frontier expansions) — the fourth "
    "iterative family under the CTE-unrolling oracle next to Lloyd "
    "refinement, PageRank, and star-contraction components. Every "
    "round is ONE keyed join (frontier ⋈ edges on the source key) "
    "plus a left-anti join against the visited set — frontier and "
    "visited stay distributed DataFrames keyed by node (at 100 TB "
    "both bucket by node id; visited never collects to the driver, "
    "which is where naive BFS implementations die first). Per-level "
    "rollup (count + node-id checksum) hashes every reached node "
    "without emitting the frontier itself.",
    parts=8,
)
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    )
    # one lineitem scan (r13): the distinct item table feeds both
    # sides of the self-join, and the undirected edge list `eu` feeds
    # THREE consumers (both union directions of `edges` + the source
    # seed) — un-materialized each re-ran the whole scan→distinct→
    # self-join subtree
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().transform(stage_boundary)
    a = items.select("ok", F.col("pk").alias("a"))
    b = items.select("ok", F.col("pk").alias("b"))
    eu = (
        a.join(b, "ok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .transform(stage_boundary)
    )
    edges = eu.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        eu.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).transform(stage_boundary)
    visited = (
        eu.agg(F.min("a").alias("node"))
        .withColumn("level", F.lit(0))
        .transform(stage_boundary)
    )
    for i in range(1, 4):
        frontier = visited.filter(F.col("level") == i - 1)
        reached = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = reached.join(
            visited.select("node"), "node", "left_anti"
        ).withColumn("level", F.lit(i))
        visited = visited.unionByName(fresh).transform(stage_boundary)
    return (
        visited.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("node").cast("bigint").alias("node_checksum"),
        )
        .orderBy("level")
    )


@_register(
    "interval_concurrency",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id))
                     > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), sess AS (
      SELECT user_id, sid, min(ts) AS s_ts, max(ts) AS e_ts
      FROM numbered GROUP BY user_id, sid
    ), b AS (
      SELECT ts, sum(st) AS starts, sum(en) AS ends
      FROM (
        SELECT s_ts AS ts, 1 AS st, 0 AS en FROM sess
        UNION ALL
        SELECT e_ts AS ts, 0 AS st, 1 AS en FROM sess
      ) GROUP BY ts
    ), r AS (
      SELECT CAST(ts AS DATE) AS day, starts,
             coalesce(sum(starts - ends) OVER (
               ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) + starts AS peak
      FROM b
    )
    SELECT day,
           CAST(max(peak) AS BIGINT) AS peak_concurrency,
           CAST(sum(starts) AS BIGINT) AS sessions_started
    FROM r GROUP BY day ORDER BY day
    """,
    doc="Sweep-line interval analytics: per-user 30-minute-gap "
    "sessions become [first-event, last-event] closed intervals, and "
    "the per-day PEAK number of concurrently-open sessions is "
    "computed by the classic boundary sweep (+1 at start, -1 at "
    "end; starts at an instant count before ends, so touching "
    "sessions overlap). The running sum is a DISTRIBUTED two-phase "
    "prefix scan, not a single global window: boundaries aggregate "
    "per timestamp, the within-day running sum is a day-partitioned "
    "window, and cross-day carry (sessions spanning midnight) folds "
    "in via a per-day net-offset table that is bounded by the "
    "calendar (one row per day) and broadcast back — so no stage "
    "ever sorts more than one day's boundaries in one task, the "
    "scan scales with days x within-day parallelism at 100 TB. "
    "The oracle replays the same sweep with a flat global window, "
    "checking the two-phase decomposition against the direct "
    "definition.",
    parts=8,
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wu)
    brk = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1800000000),
        1,
    ).otherwise(0)
    numbered = ev.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # materialize the session-interval table ONCE (r13): both boundary
    # branches of the sweep consume it, and un-materialized each
    # re-ran the two sessionization windows over the events scan
    # (plan: 8 parquet scans / 22 Exchanges for a 1-scan sweep). The
    # checkpoint is one (user, sid, start, end) row per session.
    sess = numbered.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts")
    ).transform(stage_boundary)
    bnd = sess.select(
        F.col("s_ts").alias("ts"),
        F.lit(1).alias("st"),
        F.lit(0).alias("en"),
    ).unionByName(
        sess.select(
            F.col("e_ts").alias("ts"),
            F.lit(0).alias("st"),
            F.lit(1).alias("en"),
        )
    )
    # the boundary table feeds both the per-day offset aggregate and
    # the sweep join — bounded by distinct boundary timestamps
    b = (
        bnd.groupBy("ts")
        .agg(F.sum("st").alias("starts"), F.sum("en").alias("ends"))
        .withColumn("day", F.to_date("ts"))
        .withColumn("net", F.col("starts") - F.col("ends"))
        .transform(stage_boundary)
    )
    wday = (
        Window.partitionBy("day")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Per-day net offsets: one row per calendar day, so the global
    # window here runs over a calendar-bounded table (not the data).
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("day")
        .agg(F.sum("net").alias("dnet"))
        .select(
            "day",
            F.coalesce(F.sum("dnet").over(wd), F.lit(0)).alias("off"),
        )
    )
    j = b.join(F.broadcast(offsets), "day")
    peak = F.col("off") + F.coalesce(
        F.sum("net").over(wday), F.lit(0)
    ) + F.col("starts")
    return (
        j.withColumn("peak", peak)
        .groupBy("day")
        .agg(
            F.max("peak").cast("bigint").alias("peak_concurrency"),
            F.sum("starts").cast("bigint").alias("sessions_started"),
        )
        .orderBy("day")
    )


@_register(
    "editdist_blocked_join",
    """
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a
    JOIN customer b
      ON a.c_name < b.c_name
     AND levenshtein(a.c_name, b.c_name) <= 1
    WHERE a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
    ORDER BY name_a, name_b
    """,
    doc="Exact edit-distance<=1 similarity self-join via SYMSPELL "
    "deletion-neighborhood blocking (Garbe's symmetric-delete "
    "algorithm; same family as FastSS, Bocek et al. 2007): each "
    "name emits itself plus its |s| single-deletion variants as "
    "block keys, and the theorem 'lev(a,b)<=1 implies keys(a) "
    "intersects keys(b)' (equal lengths: deleting the one differing "
    "position from both gives a shared variant; length-off-by-one: "
    "the shorter string IS a deletion variant of the longer) makes "
    "the key-equi-join candidate set a provable superset — "
    "levenshtein() then verifies exactly. The ORACLE is the naive "
    "quadratic levenshtein join, so the gate checks the blocking "
    "theorem itself, not a shared implementation. Scale: candidate "
    "generation is linear in total string length, the join keys on "
    "short variant strings (posting lists bounded by alphabet x "
    "name-pattern collisions), no crossJoin — the O(n^2) "
    "string-similarity join becomes a token-keyed shuffle, the "
    "SAME blocking shape a 100 TB entity-resolution pass uses.",
    parts=8,
)
def q_editdist_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_name").alias("name"))
        .distinct()
    )
    keyed = cust.select(
        "name",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("name")),
                    F.expr(
                        "transform(sequence(1, length(name)), "
                        "i -> concat(left(name, i-1), substring(name, i+1)))"
                    ),
                )
            )
        ).alias("k"),
    )
    a = keyed.select(F.col("name").alias("name_a"), "k")
    b = keyed.select(F.col("name").alias("name_b"), "k")
    return (
        a.join(b, "k")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .withColumn(
            "dist",
            F.levenshtein("name_a", "name_b").cast("bigint"),
        )
        .filter(F.col("dist") <= 1)
        .orderBy("name_a", "name_b")
    )


@_register(
    "pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), bg AS (
      SELECT unnest([tokens[i] || ' ' || tokens[i+1]
                     FOR i IN range(1, len(tokens))]) AS b
      FROM toks WHERE len(tokens) >= 2
    ), bgc AS (
      SELECT b, count(*) AS c FROM bg GROUP BY b
    ), words AS (
      SELECT unnest(tokens) AS w FROM toks WHERE len(tokens) >= 1
    ), uni AS (
      SELECT w, count(*) AS cw FROM words GROUP BY w
    ), nuni AS (
      SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uni
    ), nbg AS (
      SELECT CAST(sum(c) AS DOUBLE) AS nb FROM bgc
    ), j AS (
      SELECT bgc.b, bgc.c,
             {sql_dround(
                 "ln((CAST(bgc.c AS DOUBLE) / nb)"
                 " / ((CAST(u1.cw AS DOUBLE) / nu)"
                 " * (CAST(u2.cw AS DOUBLE) / nu)))", 6)} AS pmi
      FROM bgc
      JOIN uni u1 ON u1.w = split_part(bgc.b, ' ', 1)
      JOIN uni u2 ON u2.w = split_part(bgc.b, ' ', 2)
      CROSS JOIN nuni CROSS JOIN nbg
      WHERE bgc.c >= 5
    )
    SELECT b, CAST(c AS BIGINT) AS c, pmi
    FROM j ORDER BY pmi DESC, b ASC LIMIT 20
    """,
    doc="Pointwise-mutual-information collocation mining (Church & "
    "Hanks 1990) — the statistical upgrade of corpus_top_bigrams: "
    "raw bigram frequency surfaces stopword pairs, PMI = "
    "ln(p(ab)/(p(a)p(b))) surfaces genuinely associated word pairs "
    "(the vocabulary-audit signal a training-data pipeline uses to "
    "find boilerplate phrases and collocation-heavy spam). Both "
    "engines compute the PMI argument with an identical "
    "left-associated double expression over bit-identical integer "
    "counts, dround(6) before the top-20 TakeOrdered (tiebreak: "
    "gram asc). Plan: one gram agg + one token agg (both map-side "
    "partial), the two unigram lookups are vocabulary-keyed "
    "equi-joins (vocab-sized, broadcastable or bucketed at 100 TB, "
    "never corpus-sized), corpus totals fold in via the "
    "data-derived constant-key broadcast, top-20 is a TakeOrdered "
    "not a sort.",
    parts=8,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    toks = docs.select("doc_id", _word_toks().alias("toks"))
    bigrams = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("b")
    )
    # checkpoint both vocabulary-bounded count tables (r12): each
    # feeds its single-row total AND the collocation join —
    # un-materialized, each total re-ran its full corpus
    # tokenize+explode+aggregate subtree (4 corpus passes for the
    # 2-pass minimum)
    bgc = (
        bigrams.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(stage_boundary)
    )
    words = toks.filter(F.size("toks") >= 1).select(
        F.explode("toks").alias("w")
    )
    uni = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        .transform(stage_boundary)
    )
    nuni = (
        uni.agg(F.sum("cw").cast("double").alias("nu"))
        .withColumn("__k", _const_key(F.col("nu")))
    )
    nbg = (
        bgc.agg(F.sum("c").cast("double").alias("nb"))
        .withColumn("__k", _const_key(F.col("nb")))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("cw1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cw2"))
    j = (
        bgc.filter(F.col("c") >= 5)
        .withColumn("w1", F.split_part(F.col("b"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("b"), F.lit(" "), F.lit(2)))
        .join(u1, "w1")
        .join(u2, "w2")
        .withColumn("__k", _const_key(F.col("b")))
        .join(F.broadcast(nuni), "__k")
        .join(F.broadcast(nbg), "__k")
    )
    pmi = dround(
        F.log(
            (F.col("c").cast("double") / F.col("nb"))
            / (
                (F.col("cw1").cast("double") / F.col("nu"))
                * (F.col("cw2").cast("double") / F.col("nu"))
            )
        ),
        6,
    )
    return (
        j.select("b", F.col("c").cast("bigint").alias("c"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("b").asc())
        .limit(20)
    )


@_register(
    "dq_expectations",
    """
    SELECT 'events_bad_type' AS check_name,
           CAST(sum(CASE WHEN event_type NOT IN
                 ('click','error','purchase','signup','view')
                 OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS violations,
           CAST(count(*) AS BIGINT) AS checked
    FROM events
    UNION ALL
    SELECT 'events_null_user',
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'lineitem_dup_pk',
           CAST((SELECT count(*) FROM (
              SELECT l_orderkey, l_linenumber FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
             AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orphan_order',
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_bad_status',
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                 OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    ORDER BY check_name
    """,
    doc="Declarative data-quality expectation suite (the "
    "Deequ/Great-Expectations operator class): seven expectations — "
    "enum domain, null, primary-key uniqueness, referential "
    "integrity, value range — evaluate to "
    "one (check_name, violations, checked) row each. Plan shape is "
    "the point at 100 TB: ALL row-local expectations on a table "
    "fuse into ONE conditional-aggregation scan (events: 2 checks "
    "1 scan; lineitem row-local: 2 checks 1 scan), the uniqueness "
    "check is a key-shuffle count with map-side partial aggregation "
    "(never a global sort), and referential integrity is the "
    "fact-dim key join counting unmatched probes. Violations "
    "stream into counters — no violating-row materialization.",
    parts=8,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def row(name: str, violations: Column, checked: Column) -> Column:
        return F.struct(
            F.lit(name).alias("check_name"),
            violations.cast("bigint").alias("violations"),
            checked.cast("bigint").alias("checked"),
        )

    cnt = F.count(F.lit(1))
    # events: both row-local expectations in ONE scan
    ev_checks = ev.agg(
        F.array(
            row(
                "events_bad_type",
                F.sum(
                    F.when(
                        ~F.col("event_type").isin(
                            "click", "error", "purchase", "signup", "view"
                        )
                        | F.col("event_type").isNull(),
                        1,
                    ).otherwise(0)
                ),
                cnt,
            ),
            row(
                "events_null_user",
                F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)),
                cnt,
            ),
        ).alias("rows")
    )
    # lineitem row-local: one scan
    li_checks = li.agg(
        F.array(
            row(
                "lineitem_discount_range",
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0)
                        | (F.col("l_discount") > 0.1),
                        1,
                    ).otherwise(0)
                ),
                cnt,
            ),
            row(
                "lineitem_nonpositive_qty",
                F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)),
                cnt,
            ),
        ).alias("rows")
    )
    # primary-key uniqueness: key-shuffle, map-side partial agg
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.array(
                row(
                    "lineitem_dup_pk",
                    F.sum(F.when(F.col("n") > 1, 1).otherwise(0)),
                    F.sum("n"),
                )
            ).alias("rows")
        )
    )
    # referential integrity: unmatched fact->dim probes
    orphan = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            li.l_orderkey == orders.o_orderkey,
            "left",
        )
        .agg(
            F.array(
                row(
                    "lineitem_orphan_order",
                    F.sum(
                        F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
                    ),
                    cnt,
                )
            ).alias("rows")
        )
    )
    ord_checks = orders.agg(
        F.array(
            row(
                "orders_bad_status",
                F.sum(
                    F.when(
                        ~F.col("o_orderstatus").isin("O", "F", "P")
                        | F.col("o_orderstatus").isNull(),
                        1,
                    ).otherwise(0)
                ),
                cnt,
            )
        ).alias("rows")
    )
    return (
        ev_checks.unionByName(li_checks)
        .unionByName(dup)
        .unionByName(orphan)
        .unionByName(ord_checks)
        .select(F.explode("rows").alias("r"))
        .select("r.check_name", "r.violations", "r.checked")
        .orderBy("check_name")
    )


