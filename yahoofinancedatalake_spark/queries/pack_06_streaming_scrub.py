"""Streaming gate rungs 1-2, JSON extraction, splits, PII, fuzzy match, repetition/BM25, percent_rank.

Registers 11 queries (registration order is the
import order in pack.py):
- ``stream_daily_avg_batch_eq``
- ``stream_sessions_batch_eq``
- ``json_extract_agg``
- ``train_split_assign``
- ``stratified_sample``
- ``pii_redaction``
- ``fuzzy_match``
- ``repetition_quality``
- ``bm25_rank``
- ``percent_rank_daily``
- ``percent_rank_yearly``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.queries._registry import _register, _scratch
from yahoofinancedatalake_spark.queries.pack_02_text import (
    _sql_wordlist,
)
from yahoofinancedatalake_spark.queries.pack_05_forecast_search import (
    _SEARCH_TERMS,
)


# ---------------------------------------------------------------------------
# Extensions — streaming under the driver's correctness gate
# ---------------------------------------------------------------------------


@_register(
    "stream_daily_avg_batch_eq",
    f"""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           {sql_dround("sum(value)", 2)} / count(*) AS avg_value,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming end-to-end under the ORACLE gate: events re-landed "
    "as micro-batchable parquet, read with readStream, tumbling "
    "1-day event-time window × type average (streaming/ops.py "
    "stream_daily_avg — the same dround(sum)/count determinism trick "
    "as the batch twin), availableNow trigger to a memory sink; the "
    "materialized result is hash-compared against plain batch SQL. "
    "Proves the streaming plan computes the batch answer, under the "
    "driver's own session.",
    parts=8,
)
def q_stream_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_daily_avg,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    return s.to_memory(
        stream_daily_avg(s.read_stream(batch.schema)), "complete"
    )


@_register(
    "stream_sessions_batch_eq",
    f"""
    WITH l AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM l
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           {sql_dround("sum(value)", 2)} AS session_value
    FROM s GROUP BY user_id, sid
    """,
    doc="Stateful streaming sessionization under the ORACLE gate: the "
    "same merging session_window aggregation as the batch "
    "user_sessions query, but executed by the streaming engine "
    "(readStream over re-landed parquet, watermark, availableNow to "
    "a memory sink) and hash-compared against the gaps-and-islands "
    "SQL oracle. Proves session-merge state (the hardest streaming "
    "state shape: windows that MERGE as late events bridge gaps) "
    "computes exactly the batch answer.",
    parts=8,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_sessions,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    return s.to_memory(
        stream_sessions(s.read_stream(batch.schema)), "complete"
    )


# ---------------------------------------------------------------------------
# Extensions — semi-structured JSON extraction (events.props)
# ---------------------------------------------------------------------------


@_register(
    "json_extract_agg",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           sum(k)::DOUBLE / count(*) AS avg_k
    FROM (
      SELECT event_type,
             json_extract_string(props, '$.k')::INT AS k
      FROM events
    )
    GROUP BY event_type
    """,
    doc="Semi-structured extraction: events carry a JSON `props` payload "
    "(the engine analog of the reference's raw-JSON bronze zone, "
    "scripts/ingestion/*.py) — extract a typed field JVM-side with "
    "get_json_object and aggregate. At 100 TB the JSON parse runs "
    "inside the scan stage (no extra pass) and only the extracted "
    "int rides the shuffle. avg is an exact IEEE quotient of an "
    "integer sum — cross-engine deterministic without rounding.",
)
def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Extensions — deterministic train/val/test split + stratified sampling
# ---------------------------------------------------------------------------


@_register(
    "train_split_assign",
    """
    SELECT CASE WHEN h < 'cd' THEN 'train'
                WHEN h < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT substr(md5(doc_id::VARCHAR), 1, 2) AS h, n_chars
      FROM documents
    )
    GROUP BY 1
    """,
    doc="Training-data op: deterministic ~80/10/10 train/val/test split "
    "by md5(doc_id) — the standard content-hash split that stays "
    "stable across runs, engines, and re-partitioning (no rand(): "
    "retries reproduce the same assignment). The first hex byte "
    "partitions [0,256) at 205/230 ('cd'/'e6'); lowercase-hex "
    "lexicographic compare == numeric compare on both engines. At "
    "100 TB the split is a free map-side expression — no shuffle "
    "beyond the 3-group count.",
)
def q_train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@_register(
    "stratified_sample",
    """
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             substr(md5(doc_id::VARCHAR || ':' || lang), 1, 2) AS h
      FROM documents
    )
    WHERE h < CASE WHEN lang = 'en' THEN '0d' ELSE '33' END
    ORDER BY doc_id
    """,
    doc="Training-data op: deterministic stratified sampling — per-"
    "stratum rates (majority 'en' downsampled to ~5% = 13/256, "
    "minority langs kept at ~20% = 51/256) via the same md5 "
    "content-hash gate as train_split_assign, the standard recipe "
    "for rebalancing language mix in a pretraining corpus. "
    "Deterministic membership: re-runs, retries, and both engines "
    "select the identical row set. Map-side filter only — at 100 TB "
    "this is a free scan predicate.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))),
        1,
        2,
    )
    thresh = F.when(F.col("lang") == "en", "0d").otherwise("33")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .filter(F.col("h") < thresh)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Extensions — PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@_register(
    "pii_redaction",
    f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(synth, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(synth, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(synth, '{_PHONE_RE}')) AS n_phones
    FROM (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact user' || doc_id::VARCHAR
               || '@example.com or +1-555-'
               || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS synth
      FROM documents
    )
    ORDER BY doc_id
    """,
    doc="Training-data op: PII scrubbing — regex redaction of emails "
    "and phone numbers with per-doc redaction counts (the audit "
    "column a compliance pipeline keeps). The synthetic PII suffix "
    "is deterministic from doc_id (the corpus itself contains none), "
    "so both engines scrub the identical strings; patterns restricted "
    "to the regex subset with identical semantics in Java regex and "
    "RE2. Pure map-side codegen expressions — at 100 TB redaction "
    "adds zero shuffles, and regexp_count doubles as the DQ metric.",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    synth = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    base = docs.select("doc_id", synth.alias("synth"))
    return base.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("synth", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
        F.regexp_count("synth", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("synth", F.lit(_PHONE_RE)).alias("n_phones"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Extensions — fuzzy term match (ES `fuzziness` analog)
# ---------------------------------------------------------------------------


@_register(
    "fuzzy_match",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               regexp_split_to_array(lower(trim(text)), '[^a-z0-9'']+'),
               x -> x <> '') AS tokens
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(tokens) AS term FROM toks
    )
    SELECT doc_id,
           count(*) AS n_fuzzy,
           CAST(sum(CASE WHEN term = 'stream' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact
    FROM ex
    WHERE length(term) BETWEEN 5 AND 7
      AND levenshtein(term, 'stream') <= 1
    GROUP BY doc_id
    ORDER BY n_fuzzy DESC, doc_id ASC
    LIMIT 20
    """,
    doc="Fuzzy term matching — the engine twin of ES `fuzziness: 1` "
    "(the reference serves analyzed text fields to Kibana's query "
    "bar, to_elasticsearch.py:122-129): tokens within Levenshtein "
    "distance 1 of the query term, counted per doc, exact hits "
    "tallied separately, top-20 with deterministic tiebreak. The "
    "cheap length-window predicate (|len-6| <= 1, a necessary "
    "condition for distance <= 1) runs BEFORE the O(m*n) distance "
    "so codegen prunes most tokens for free — the same shape an ES "
    "fuzzy automaton achieves with length-bounded term expansion.",
    parts=8,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    # Length window applied INSIDE the array filter, before explode:
    # only 5-7-char tokens are ever emitted as rows, so the explode
    # (the row-multiplying step) carries ~an order of magnitude fewer
    # rows into the levenshtein filter. Same predicate set as the
    # oracle — just evaluated pre-explode instead of post.
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9']+"),
        lambda t: (F.length(t) >= 5) & (F.length(t) <= 7),
    )
    ex = docs.select("doc_id", F.explode(toks).alias("term"))
    return (
        ex.filter(F.levenshtein("term", F.lit("stream")) <= 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fuzzy"),
            F.sum(
                F.when(F.col("term") == "stream", 1).otherwise(0)
            ).alias("n_exact"),
        )
        .orderBy(F.col("n_fuzzy").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Extensions — repetition quality (Gopher-style) + BM25 ranking
# ---------------------------------------------------------------------------


@_register(
    "repetition_quality",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               regexp_split_to_array(lower(trim(text)), '[^a-z0-9'']+'),
               x -> x <> '') AS tokens
      FROM documents
    ), base AS (
      SELECT doc_id, tokens, len(tokens) AS n_toks
      FROM toks WHERE len(tokens) >= 2
    ), wc AS (
      SELECT doc_id, n_toks, max(c) AS mw
      FROM (
        SELECT doc_id, n_toks, w, count(*) AS c
        FROM (SELECT doc_id, n_toks, unnest(tokens) AS w FROM base)
        GROUP BY doc_id, n_toks, w
      )
      GROUP BY doc_id, n_toks
    ), bc AS (
      SELECT doc_id, max(c) AS mb
      FROM (
        SELECT doc_id, b, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest([tokens[i] || ' ' || tokens[i+1]
                         FOR i IN range(1, len(tokens))]) AS b
          FROM base
        )
        GROUP BY doc_id, b
      )
      GROUP BY doc_id
    )
    SELECT wc.doc_id,
           n_toks,
           {sql_dround("mw::DOUBLE / n_toks", 4)} AS top_word_frac,
           {sql_dround("mb::DOUBLE / (n_toks - 1)", 4)} AS top_bigram_frac
    FROM wc JOIN bc ON wc.doc_id = bc.doc_id
    ORDER BY wc.doc_id
    """,
    doc="Training-data op: Gopher-style repetition quality signals — "
    "the fraction of tokens taken by the most frequent word and the "
    "fraction of bigrams taken by the most frequent bigram (Rae et "
    "al. 2021 use these to drop boilerplate/spam docs). Bigrams are "
    "built JVM-side by zipping the token array with its own tail "
    "(zip_with over two slices) — no Python. Shape per doc: two "
    "(doc, gram) hash-aggs with map-side partials feeding a per-doc "
    "max — at 100 TB the gram agg is the only wide exchange and "
    "keys are (doc_id, gram), so no hot reducer.",
    parts=8,
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    base = (
        docs.select("doc_id", toks.alias("toks"))
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") >= 2)
    )
    words = base.select("doc_id", "n_toks", F.explode("toks").alias("w"))
    wc = (
        words.groupBy("doc_id", "n_toks", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_toks")
        .agg(F.max("c").alias("mw"))
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("b"),
    )
    bc = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mb"))
    )
    return (
        wc.join(bc, "doc_id")
        .select(
            "doc_id",
            "n_toks",
            dround(
                F.col("mw").cast("double") / F.col("n_toks"), 4
            ).alias("top_word_frac"),
            dround(
                F.col("mb").cast("double") / (F.col("n_toks") - 1), 4
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


#: BM25 constants (the standard Robertson defaults).
_BM25_K1 = 1.2
_BM25_B = 0.75


@_register(
    "bm25_rank",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               regexp_split_to_array(lower(trim(text)), '[^a-z0-9'']+'),
               x -> x <> '') AS tokens
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs,
             sum(len(tokens)) AS sum_dl,
             {", ".join(
                 f"sum(CASE WHEN list_contains(tokens, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
                 for i, t in enumerate(_SEARCH_TERMS)
             )}
      FROM toks
    ), idf AS (
      {" UNION ALL ".join(
          f"SELECT '{t}' AS term, "
          f"CAST(floor((ln((n_docs + 1) / (df_{i} + 1)) + 1) * 1000000 + 0.5) AS BIGINT) AS idf_fix, "
          f"sum_dl::DOUBLE / n_docs AS avgdl FROM stats"
          for i, t in enumerate(_SEARCH_TERMS)
      )}
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM (
        SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term
        FROM toks
      )
      WHERE term IN ({{_terms}})
      GROUP BY doc_id, dl, term
    ), scored AS (
      SELECT tf.doc_id,
             count(*) AS n_terms,
             sum(CAST(floor(
               idf.idf_fix * (tf.tf * ({_BM25_K1} + 1.0))
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * (tf.dl / idf.avgdl)))
               + 0.5) AS BIGINT)) AS score_fix
      FROM tf JOIN idf USING (term)
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms, score_fix::DOUBLE / 1000000.0 AS score
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """.replace("{_terms}", _sql_wordlist(_SEARCH_TERMS)),
    doc="BM25-lite ranked retrieval — the saturation-and-length-"
    "normalized upgrade of text_search_rank (k1=1.2, b=0.75, smoothed "
    "idf): the engine twin of ES's default relevance scoring over the "
    "reference's analyzed text fields (to_elasticsearch.py:122-129). "
    "Cross-engine determinism: idf is fixed-pointed to an integer, "
    "the per-(doc,term) BM25 contribution is computed with an "
    "IDENTICAL expression tree on both engines (pure IEEE ops on "
    "integer inputs) and fixed-pointed BEFORE the per-doc sum, so "
    "the aggregate is an exact integer sum — summation order can "
    "never flip a bit. Shape: one single-row corpus-stats aggregate "
    "(n_docs, total length, per-term df — map-side partials), "
    "exploded to a 3-row broadcast idf table; the only wide exchange "
    "is the (doc, term) tf agg over rows pre-filtered to query terms.",
    parts=8,
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9']+"),
        lambda t: t != "",
    )
    base = docs.select("doc_id", toks.alias("toks"))
    ex = base.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    ).filter(F.col("term").isin(_SEARCH_TERMS))
    tf = ex.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("sum_dl"),
        *[
            F.sum(F.array_contains("toks", t).cast("long")).alias(f"__df_{i}")
            for i, t in enumerate(_SEARCH_TERMS)
        ],
    )
    idf = stats.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"),
                        F.floor(
                            (
                                F.log(
                                    (F.col("n_docs") + 1)
                                    / (F.col(f"__df_{i}") + 1)
                                )
                                + 1
                            )
                            * 1000000
                            + 0.5
                        )
                        .cast("long")
                        .alias("idf_fix"),
                        (
                            F.col("sum_dl").cast("double") / F.col("n_docs")
                        ).alias("avgdl"),
                    )
                    for i, t in enumerate(_SEARCH_TERMS)
                ]
            )
        ).alias("s")
    ).select("s.term", "s.idf_fix", "s.avgdl")
    k1, b = _BM25_K1, _BM25_B
    contrib = F.floor(
        F.col("idf_fix")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * (F.col("dl") / F.col("avgdl"))
            )
        )
        + 0.5
    ).cast("long")
    scored = (
        tf.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(contrib).alias("score_fix"),
        )
        .select(
            "doc_id",
            "n_terms",
            (F.col("score_fix").cast("double") / F.lit(1000000.0)).alias(
                "score"
            ),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        20
    )


# ---------------------------------------------------------------------------
# Extensions — distribution windows (percent_rank)
# ---------------------------------------------------------------------------


@_register(
    "percent_rank_daily",
    f"""
    SELECT day, event_type, v,
           percent_rank() OVER (PARTITION BY event_type ORDER BY v) AS pr
    FROM (
      SELECT date_trunc('day', ts) AS day,
             event_type,
             {sql_dround("sum(value)", 2)} AS v
      FROM events
      GROUP BY 1, 2
    )
    ORDER BY event_type, day
    """,
    doc="Distribution window: where does each day's total sit within "
    "its event type's history — percent_rank over the (already "
    "dround-deterministic) daily sums, the Kibana-percentiles "
    "companion that turns a raw series into a percentile series. "
    "percent_rank = (rank-1)/(n-1) is an exact rational on both "
    "engines and rank handles rounding-induced ties identically. "
    "Plan: one keyed agg, then a per-event_type window — partitions "
    "by the 5-value type column at gate scale but by (type) only; "
    "at 100 TB partition the window by (type, year) to bound state.",
)
def q_percent_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(dround(F.sum("value"), 2).alias("v"))
    w = Window.partitionBy("event_type").orderBy("v")
    return daily.select(
        "day", "event_type", "v", F.percent_rank().over(w).alias("pr")
    ).orderBy("event_type", "day")


@_register(
    "percent_rank_yearly",
    f"""
    SELECT day, yr, event_type, v,
           percent_rank() OVER (
             PARTITION BY event_type, yr ORDER BY v) AS pr
    FROM (
      SELECT date_trunc('day', ts) AS day,
             year(ts) AS yr,
             event_type,
             {sql_dround("sum(value)", 2)} AS v
      FROM events
      GROUP BY 1, 2, 3
    )
    ORDER BY event_type, day
    """,
    doc="The bounded-state form of percent_rank_daily for 100 TB: the "
    "window partitions by (event_type, year) instead of the 5-value "
    "event_type alone, so each window partition holds ≤366 daily "
    "rows per (type, year) no matter how many years of history the "
    "table accumulates — window state stays O(days-per-year), and "
    "the partition count grows with the data instead of being "
    "capped at the type cardinality (the r3 verdict's named "
    "hardening). Same deterministic dround'd sums; percentile is "
    "now within-year, which is also the analytically honest frame "
    "for a series with year-over-year drift.",
)
def q_percent_rank_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.year("ts").alias("yr"),
        "event_type",
    ).agg(dround(F.sum("value"), 2).alias("v"))
    w = Window.partitionBy("event_type", "yr").orderBy("v")
    return daily.select(
        "day", "yr", "event_type", "v", F.percent_rank().over(w).alias("pr")
    ).orderBy("event_type", "day")


