"""Training-data prep: chunking, decontamination, packing, streaming rungs 3-7 (split from pack.py, r7 — pure refactor).

Registers 21 queries (registration order is the
import order in pack.py):
- ``span_dedup_c4``
- ``doc_chunking``
- ``contamination_ngrams``
- ``sequence_packing``
- ``corpus_top_bigrams``
- ``stream_dedup_batch_eq``
- ``stream_lake_dedup_batch_eq``
- ``stream_upsert_batch_eq``
- ``stream_attribution_batch_eq``
- ``stream_custom_state_batch_eq``
- ``unigram_logprob_quality``
- ``approx_quantile_gate``
- ``gap_fill_daily``
- ``cohort_retention``
- ``funnel_stages``
- ``value_histogram``
- ``label_centroids``
- ``key_skew_profile``
- ``column_profile``
- ``snapshot_diff``
- ``cube_event_stats``
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
from yahoofinancedatalake_spark.session import stage_boundary


# ---------------------------------------------------------------------------
# Extensions — training-data prep: chunking, decontamination, packing
# ---------------------------------------------------------------------------

#: Chunking window / stride (tokens) — 25% overlap, the common RAG /
#: pretraining-chunk shape.
_CHUNK_W = 32
_CHUNK_S = 24

_WORD_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(trim(text)), "
    "'[^a-z0-9'']+'), x -> x <> '')"
)


def _word_toks() -> Column:
    """Lowercase word tokens — the shared cross-engine tokenization
    (same pattern as fuzzy_match / repetition_quality)."""
    return F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9']+"),
        lambda t: t != "",
    )


@_register(
    "span_dedup_c4",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS w FROM documents
    ), spans AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+9], ' ')
                     FOR i IN range(1, len(w) + 1, 10)]) AS span
      FROM toks WHERE len(w) > 0
    ), freq AS (
      SELECT md5(span) AS h, count(*) AS occ
      FROM spans GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN f.occ < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN f.occ < 2 THEN length(s.span)
                         ELSE 0 END) AS BIGINT) AS kept_chars
    FROM spans s JOIN freq f ON md5(s.span) = f.h
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="Training-data op: C4-style corpus-frequency span removal — "
    "the third member of the corpus-dedup family, with semantics "
    "neither neighbor has (chunk_dedup KEEPS the first occurrence of "
    "a duplicated chunk; contamination_ngrams removes docs hitting "
    "an external benchmark; this REMOVES every occurrence of any "
    "span frequent in the corpus itself — C4's boilerplate rule, "
    "arXiv:1910.10683 §2.2 'we discarded any line that appeared "
    "more than three times'). Lines don't exist in this corpus, so "
    "the unit is non-overlapping 10-word spans, and the removal "
    "threshold is >=2 occurrences so the testdata's planted "
    "pair-level duplication actually exercises the removal path "
    "(both are parameters of the rule, not the shape). Plan: spans "
    "carry only (doc_id, md5, length) — the text never shuffles — "
    "and the exploded span table is materialized (stage_boundary) "
    "so the corpus is scanned+exploded ONCE while feeding both the "
    "frequency aggregate and the count-back join (at 100 TB it is a "
    "landed table). The frequency side is a groupBy count with "
    "MAP-SIDE partial aggregation, so a boilerplate mega-span "
    "('all rights reserved …' x 100M occurrences) collapses per "
    "task before its exchange; the count-back join's probe side "
    "does see the hot hash, which is exactly what AQE's skew-join "
    "splitting handles. A window-count formulation was rejected "
    "for 100 TB: windows have NO partial aggregation and no skew "
    "splitting, so the mega-span would pile onto one task. "
    "Per-doc audit output (spans kept / chars surviving) "
    "is the number a prep run reports.",
    parts=8,
)
def q_span_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    toks = docs.select("doc_id", _word_toks().alias("w")).filter(
        F.size("w") > 0
    )
    n_spans = F.ceil(F.size("w") / F.lit(10.0)).cast("int")
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice("w", i * 10 + 1, 10), " "
                ),
            )
        ).alias("span"),
    ).select(
        "doc_id",
        F.md5("span").alias("h"),
        F.length("span").alias("span_len"),
    ).transform(stage_boundary)
    freq = spans.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    return (
        spans.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("occ") < 2, 1).otherwise(0)
            ).alias("n_kept"),
            F.sum(
                F.when(F.col("occ") < 2, F.col("span_len")).otherwise(0)
            ).cast("bigint").alias("kept_chars"),
        )
        .orderBy("doc_id")
    )


@_register(
    "doc_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), base AS (
      SELECT doc_id, tokens, len(tokens) AS n
      FROM toks WHERE len(tokens) >= 1
    ), ex AS (
      SELECT doc_id, tokens, n,
             unnest(generate_series(0, n - 1, {_CHUNK_S})) AS st
      FROM base
    )
    SELECT doc_id,
           st // {_CHUNK_S} AS chunk_id,
           st AS chunk_start,
           least({_CHUNK_W}, n - st) AS n_chunk_tokens,
           array_to_string(tokens[st + 1 : st + {_CHUNK_W}], ' ')
             AS chunk_text
    FROM ex
    """,
    doc="Training-data op: split every document into overlapping "
    f"token-window chunks ({_CHUNK_W}-token window, {_CHUNK_S}-token "
    "stride = 25% overlap) — the standard pre-embedding / "
    "pretraining chunker. Entirely JVM-side: sequence() generates "
    "chunk starts, explode multiplies rows, slice+array_join "
    "materialize each chunk's text. At 100 TB this is a narrow "
    "map-side transform — zero shuffles, output partitioning "
    "inherits the scan, and chunk_text is the ONLY wide column "
    "produced (ids/offsets ride along for free).",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = (
        docs.select("doc_id", _word_toks().alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    ex = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_S))
        ).alias("st"),
    )
    return ex.select(
        "doc_id",
        (F.col("st") / _CHUNK_S).cast("long").alias("chunk_id"),
        F.col("st").cast("long").alias("chunk_start"),
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("st"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("st") + 1, F.lit(_CHUNK_W)), " "
        ).alias("chunk_text"),
    )


#: Decontamination n-gram size. The published recipes use 8-13-gram
#: overlap on real corpora; the synthetic documents table has almost no
#: verbatim 8-gram overlap (1 doc at sf0.01), so the gate runs the same
#: pipeline at n=4 where the check exercises a real result set
#: (13 docs at sf0.01). The operator is the constant's only consumer —
#: production would set 8+.
_CONTAM_N = 4


@_register(
    "contamination_ngrams",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), base AS (
      SELECT doc_id, tokens, len(tokens) AS n
      FROM toks WHERE len(tokens) >= {_CONTAM_N}
    ), ex AS (
      SELECT doc_id, tokens,
             unnest(generate_series(0, n - {_CONTAM_N})) AS i
      FROM base
    ), grams AS (
      SELECT doc_id,
             md5(array_to_string(tokens[i + 1 : i + {_CONTAM_N}], ' '))
               AS g
      FROM ex
    ), ev AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0
    ), tr AS (
      SELECT * FROM grams WHERE doc_id % 37 <> 0
    )
    SELECT tr.doc_id, count(DISTINCT tr.g) AS n_shared_grams
    FROM tr JOIN ev USING (g)
    GROUP BY tr.doc_id
    ORDER BY tr.doc_id
    """,
    doc="Training-data op: benchmark decontamination by n-gram overlap "
    "(the GPT-3/PaLM appendix recipe: a train doc is contaminated if "
    "it shares any n-gram with the eval set — here docs with "
    "doc_id % 37 = 0 stand in for the benchmark; n=_CONTAM_N). Each "
    "side derives identical lowercase word n-grams; only the md5 of each "
    "gram rides the shuffle, and the check is an EQUI-join on that "
    "hash (never text×text) followed by a per-doc distinct count. "
    "At 100 TB: eval grams are tiny (benchmarks are small) → "
    "broadcast; the train side stays map-local until the final "
    "per-doc agg.",
    parts=8,
)
def q_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = (
        docs.select("doc_id", _word_toks().alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= _CONTAM_N)
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - _CONTAM_N),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i + 1, F.lit(_CONTAM_N)), " "
                ),
            )
        ).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("g"))
    ev = (
        grams.filter(F.col("doc_id") % 37 == 0).select("g").distinct()
    )
    tr = grams.filter(F.col("doc_id") % 37 != 0)
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


#: Sequence-packing context budget (tokens).
_PACK_BUDGET = 512


@_register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 x -> x <> '')) AS n_tok
      FROM documents
    ), c AS (
      SELECT *,
             sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source,
           CAST(floor((cum - n_tok) / {_PACK_BUDGET}.0) AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c
    GROUP BY source, bin
    ORDER BY source, bin
    """,
    doc="Training-data op: deterministic sequence packing — assign "
    f"whole documents to {_PACK_BUDGET}-token context bins in stable "
    "doc_id order, bin = floor(tokens-before-this-doc / budget) (the "
    "contiguous-fill approximation of first-fit; no RNG, no driver "
    "loop). Packing is PARTITIONED BY source, which is the 100 TB "
    "shape: each shard packs independently under one window, state "
    "is a running sum, and no global coordination exists — exactly "
    "how packing shards out on a real cluster. Output is the bin "
    "manifest (doc span + fill), the thing a downstream batch "
    "assembler consumes.",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    )
    t = docs.select("doc_id", "source", n_tok.alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.withColumn(
            "bin",
            F.floor(
                (F.col("cum") - F.col("n_tok")) / F.lit(_PACK_BUDGET)
            ).cast("bigint"),
        )
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )


@_register(
    "corpus_top_bigrams",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), base AS (
      SELECT doc_id, tokens FROM toks WHERE len(tokens) >= 2
    ), bg AS (
      SELECT unnest([tokens[i] || ' ' || tokens[i+1]
                     FOR i IN range(1, len(tokens))]) AS b
      FROM base
    )
    SELECT b, count(*) AS c
    FROM bg
    GROUP BY b
    ORDER BY c DESC, b ASC
    LIMIT 20
    """,
    doc="Training-data op: corpus-level top-20 bigram frequency table "
    "(vocabulary/boilerplate audit — the corpus-wide companion of "
    "the per-doc repetition_quality signals). Bigrams built JVM-side "
    "with zip_with over two slices of the token array, partial "
    "(map-side) counts combine before the single wide exchange on "
    "the gram key, and the global top-20 is a TakeOrdered, not a "
    "full sort. Deterministic tiebreak: count desc, gram asc.",
    parts=8,
)
def q_corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = docs.select(_word_toks().alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = base.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("b")
    )
    return (
        bigrams.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("b").asc())
        .limit(20)
    )


@_register(
    "stream_dedup_batch_eq",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
    doc="Watermarked streaming dedup under the ORACLE gate: events are "
    "re-landed TWICE (two parquet copies of every row), read with "
    "readStream, and dropDuplicatesWithinWatermark(event_id) must "
    "collapse the duplicates exactly back to the original table — "
    "hash-compared against plain SELECT of the source. The copies "
    "are bit-identical rows, so the result is deterministic no "
    "matter which copy survives. Dedup state is bounded by the "
    "watermark horizon (ids seen per window, not per stream "
    "lifetime) — the S11 dedup-by-id sink's streaming twin.",
    parts=8,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_dedup_by_id,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    s.land(batch.repartition(4), mode="append")  # duplicates
    # Watermark wider than the data's whole time span: the 8 files fit
    # one availableNow batch today, but if a future driver splits them,
    # no row may be late-dropped instead of dedup-dropped — lateness
    # would make the batch split visible in the result. The production
    # knob stays the horizon (see stream_dedup_by_id); the GATE must be
    # batching-invariant.
    return s.to_memory(
        stream_dedup_by_id(
            s.read_stream(batch.schema), ["event_id"], watermark="3650 days"
        ),
        "append",
    )


@_register(
    "stream_lake_dedup_batch_eq",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE event_id % 4 <> 0
    """,
    doc="Stream-static ANTI-join dedup under the ORACLE gate — the "
    "daily-ingest twin of incremental_dedup_gate: new events arrive "
    "as a stream and every id already LANDED in the lake (a static "
    "keyed table, here every fourth event_id) is dropped by a "
    "left_anti join before the batch lands. Complements "
    "stream_dedup_batch_eq (within-stream dropDuplicates, watermark-"
    "bounded state): against-history dedup keeps NO stream state at "
    "all — the static side is just a (re-broadcast or shuffled) "
    "relation, so the operator scales with the micro-batch, not the "
    "stream lifetime. At 100 TB the landed-id table is the bucketed "
    "band/key index the lake already maintains.",
    parts=8,
)
def q_stream_lake_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    landed = batch.filter(F.col("event_id") % 4 == 0).select("event_id")
    stream = s.read_stream(batch.schema).join(landed, "event_id", "left_anti")
    return s.to_memory(stream, "append")


@_register(
    "stream_upsert_batch_eq",
    """
    SELECT event_id, ts, user_id, event_type,
           CASE WHEN event_id % 5 = 0 THEN value * 2.0 ELSE value END
             AS value
    FROM events
    """,
    doc="Streaming serving-sink leg under the ORACLE gate: the events "
    "table is seeded into a keyed parquet serving table "
    "(upsert_rows, _id semantics of the reference's ES indexer — "
    "to_elasticsearch.py:78), an update batch (value doubled for "
    "every fifth event_id) is streamed through the foreachBatch "
    "upsert sink, and then the SAME batch is re-delivered under a "
    "fresh checkpoint — the at-least-once failure replay. The final "
    "table must hash-equal base-overridden-by-updates: keyed upsert "
    "is idempotent, so replay upgrades at-least-once delivery to "
    "exactly-once table state. Write amplification stays O(touched "
    "partitions) — untouched event_type partitions are never "
    "rewritten.",
    parts=8,
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.sources.parquet_io import (  # noqa: PLC0415
        upsert_rows,
    )
    from yahoofinancedatalake_spark.streaming.sinks import (  # noqa: PLC0415
        foreach_batch_upsert,
    )

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    table = s.path("serving")
    upsert_rows(spark, base, table, ["event_id"], "event_type")
    updates = base.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") * 2.0
    )
    s.land(updates.repartition(4))
    for ck in ("ck_deliver", "ck_redeliver"):
        stream = s.read_stream(base.schema)
        s.drain(
            foreach_batch_upsert(
                stream, table, ["event_id"], "event_type", s.path(ck)
            ),
            ck,
        )
    return spark.read.parquet(table).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@_register(
    "stream_attribution_batch_eq",
    """
    SELECT p.user_id,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           v.event_id AS view_id,
           v.ts AS view_ts,
           p.value AS purchase_value
    FROM (SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
    doc="Stream-stream join under the ORACLE gate: purchases and views "
    "re-landed as two readStreams over the same parquet, inner-joined "
    "on user with a 1-hour attribution window (view at-or-before the "
    "purchase), availableNow to a memory sink, hash-compared against "
    "the plain batch self-join. Both sides carry watermarks and the "
    "time-bounded condition evicts each side's state as the other's "
    "watermark passes — the bounded-state stream-stream shape, "
    "driver-verified end-to-end.",
    parts=8,
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        stream_stream_attribution,
    )

    # Land only the two event types the join consumes: both streams
    # re-read this file, so halving it halves both scans (and mirrors
    # the production shape, where each stream IS its own topic/table
    # rather than a filter over the firehose).
    batch = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .filter(F.col("event_type").isin("purchase", "view"))
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))

    def side(event_type: str, id_alias: str, keep_value: bool):
        cols = [
            "user_id",
            "ts",
            F.col("event_id").alias(id_alias),
        ]
        if keep_value:
            cols.append(F.col("value").alias("purchase_value"))
        return (
            s.read_stream(batch.schema)
            .filter(F.col("event_type") == event_type)
            .select(*cols)
        )

    joined = stream_stream_attribution(
        side("purchase", "purchase_id", True),
        side("view", "view_id", False),
        key_col="user_id",
        ts_col="ts",
        within="INTERVAL 1 HOUR",
    ).select(
        F.col("l_key").alias("user_id"),
        "purchase_id",
        F.col("l_ts").alias("purchase_ts"),
        "view_id",
        F.col("r_ts").alias("view_ts"),
        "purchase_value",
    )
    return s.to_memory(joined, "append")


@_register(
    "stream_custom_state_batch_eq",
    """
    SELECT user_id,
           arg_max(value, ts) AS last_value,
           max(ts) AS last_ts,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful streaming operator under the ORACLE gate: "
    "running_last_state (applyInPandasWithState — explicit per-key "
    "GroupState carrying last_value/last_ts/n_events, the escape "
    "hatch for semantics built-in aggregates can't express) over "
    "re-landed events, availableNow, update mode to a memory sink; "
    "hash-compared against batch arg_max/max/count. Deterministic "
    "because (user_id, ts) pairs are unique in the data, so the "
    "running-last choice can never tie. The W1 last-value semantics "
    "done three ways — batch window, streaming max_by, and explicit "
    "state — all provably equal.",
    parts=8,
)
def q_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.streaming.ops import (  # noqa: PLC0415
        running_last_state,
    )

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    s = _scratch(spark)
    s.land(batch.repartition(4))
    t = s.to_memory(
        running_last_state(s.read_stream(batch.schema), evict_idle=False),
        "update",
    )
    # update-mode memory sink appends the per-batch updated rows; the
    # single-batch availableNow run emits each key once, but guard the
    # multi-batch case deterministically: the LAST update per key is
    # the final state (n_events is monotone, so max_by(struct) on
    # n_events picks it without any batch-id bookkeeping).
    return t.groupBy("user_id").agg(
        F.max_by("last_value", "n_events").alias("last_value"),
        F.max_by("last_ts", "n_events").alias("last_ts"),
        F.max("n_events").alias("n_events"),
    )


@_register(
    "unigram_logprob_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, {_WORD_TOKS_SQL} AS tokens FROM documents
    ), words AS (
      SELECT doc_id, unnest(tokens) AS w
      FROM toks WHERE len(tokens) >= 1
    ), freq AS (
      SELECT w, count(*) AS c FROM words GROUP BY w
    ), tot AS (
      SELECT sum(c) AS n FROM freq
    ), scored AS (
      SELECT words.doc_id,
             {sql_dround("ln(freq.c / tot.n)", 4)} AS lp
      FROM words JOIN freq USING (w) CROSS JOIN tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           {sql_dround("sum(lp)", 4)} / count(*) AS mean_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Training-data op: unigram language-model quality score — each "
    "doc's mean log-probability under the corpus's own unigram "
    "distribution (the CCNet/KenLM filtering recipe with the "
    "simplest possible LM: boilerplate and in-distribution text "
    "score high, gibberish and outlier docs score low and get "
    "culled). Per-token log-probs are dround(4)-fixed BEFORE the "
    "per-doc sum so both engines add identical doubles; the mean is "
    "an exact IEEE quotient. Plan: one token agg builds the "
    "frequency table (the 'LM'), a single-row total broadcasts, and "
    "the token→freq equi-join feeds a per-doc agg — at 100 TB the "
    "frequency table is vocabulary-sized (millions of rows, "
    "broadcastable or bucketed), never corpus-sized.",
    parts=8,
)
def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)
    base = docs.select("doc_id", _word_toks().alias("toks")).filter(
        F.size("toks") >= 1
    )
    words = base.select("doc_id", F.explode("toks").alias("w"))
    # checkpoint the vocabulary-bounded frequency table (r12): it
    # feeds BOTH the single-row total and the scoring join —
    # un-materialized, building the total re-ran the whole corpus
    # tokenize+explode+aggregate a second time
    freq = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(stage_boundary)
    )
    # fold the single-row total into the frequency table via a
    # constant-key EQUI-join (BroadcastHashJoin): a bare crossJoin of a
    # 1-row frame plans as BroadcastNestedLoopJoin, which the plan
    # suite rightly treats as a scale killer. The key must be DERIVED
    # FROM DATA (hash mod 1 == 0 on both sides) — a literal key on
    # both sides constant-folds the join condition away and the plan
    # degenerates right back to the nested loop.
    tot = freq.agg(F.sum("c").alias("n")).withColumn("__k", _const_key(F.col("n")))
    freq_n = (
        freq.withColumn("__k", _const_key(F.col("w")))
        .join(F.broadcast(tot), "__k")
        .drop("__k")
    )
    scored = words.join(freq_n, "w").select(
        "doc_id",
        dround(F.log(F.col("c") / F.col("n")), 4).alias("lp"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (dround(F.sum("lp"), 4) / F.count(F.lit(1))).alias(
                "mean_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@_register(
    "approx_quantile_gate",
    "SELECT 'approx_median_rank_error' AS metric, TRUE AS passed",
    doc="Approximate-quantile error gate (the A6 companion: distinct "
    "count has exact/approx+bounds twins, quantiles get the same "
    "treatment): percentile_approx(value, 0.5, accuracy=100) per "
    "event_type must land within the Greenwald-Khanna rank "
    "guarantee — |rank(approx) - N/2| <= eps*N with eps = "
    "1/accuracy — checked fully distributed: rank of the approx "
    "answer is ONE count aggregation against the data, never a "
    "sort. At 100 TB the approx sketch is mergeable map-side "
    "(that's why it exists); the exact median would need a global "
    "sort or two passes.",
)
def q_approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    acc = 100
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("apx"),
        F.count(F.lit(1)).alias("n"),
    )
    ranks = (
        ev.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("apx"), 1).otherwise(0)
            ).alias("rank_apx"),
            F.max("n").alias("n"),
        )
    )
    ok = (
        F.abs(F.col("rank_apx") - F.col("n") / 2.0)
        <= F.col("n") / F.lit(float(acc))
    )
    return ranks.agg(
        F.lit("approx_median_rank_error").alias("metric"),
        F.min(ok.cast("boolean")).alias("passed"),
    )


@_register(
    "gap_fill_daily",
    f"""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', ts) AS day,
             {sql_dround("sum(value)", 2)} AS v
      FROM events
      WHERE day(ts) % 7 <> 3
      GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(day) AS lo, max(day) AS hi
      FROM daily GROUP BY event_type
    ), cal AS (
      SELECT event_type, unnest(generate_series(lo, hi,
             INTERVAL 1 DAY)) AS day
      FROM span
    ), joined AS (
      SELECT cal.event_type, cal.day, daily.v,
             count(daily.v) OVER (
               PARTITION BY cal.event_type ORDER BY cal.day
               ROWS UNBOUNDED PRECEDING) AS grp
      FROM cal LEFT JOIN daily USING (event_type, day)
    )
    SELECT event_type, day,
           coalesce(v, max(v) OVER (
             PARTITION BY event_type, grp)) AS v_filled,
           (v IS NULL) AS was_gap
    FROM joined
    ORDER BY event_type, day
    """,
    doc="Time-series regularization: reindex each event type's daily "
    "series onto its full calendar span (sequence + explode builds "
    "the calendar JVM-side) and forward-fill gaps with the last "
    "observed value — last(ignoreNulls) over an unbounded-preceding "
    "window, the standard Spark gap-fill idiom (the reference's "
    "OHLCV series assume trading-day continuity; an engine must "
    "MAKE a series regular before lag/rolling ops are meaningful). "
    "Oracle replays the fill with the count-over-nulls grouping "
    "trick. Plan: one agg, a per-type span agg (broadcast), calendar "
    "explode is linear in days, and the fill window partitions by "
    "type — at 100 TB partition by (type, year) like "
    "percent_rank_yearly.",
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the synthetic events cover every day, so a deterministic subset
    # of days (day-of-month ≡ 3 mod 7) is dropped on BOTH sides to
    # create real gaps — otherwise the fill path would go unexercised
    daily = (
        ev.filter(F.dayofmonth("ts") % 7 != 3)
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(dround(F.sum("value"), 2).alias("v"))
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = cal.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "day",
        F.coalesce(
            "v", F.last("v", ignorenulls=True).over(w)
        ).alias("v_filled"),
        F.col("v").isNull().alias("was_gap"),
    ).orderBy("event_type", "day")


@_register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             min(date_trunc('week', ts)) AS cohort
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w
      FROM events
    )
    SELECT f.cohort,
           datediff('day', f.cohort, a.w) // 7 AS week_offset,
           count(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort, week_offset
    """,
    doc="Cohort retention: users bucketed by first-seen month, counted "
    "active per (cohort, weeks-since-cohort) — the standard "
    "retention triangle behind every product dashboard (and the "
    "engine form of Kibana's unique-count-over-time panels). Plan: "
    "the firsts table is one keyed agg, activity is a distinct "
    "projection, the join is a user_id equi-join and the final agg "
    "keys on (cohort, offset) — three shuffles total, all on "
    "high-cardinality or composite keys, no hot reducer. At 100 TB "
    "firsts is users-sized; bucket both sides by user_id at write "
    "time and the join goes exchange-free.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = F.date_trunc("week", "ts")
    firsts = ev.groupBy("user_id").agg(F.min(w).alias("cohort"))
    activity = ev.select("user_id", w.alias("w")).distinct()
    off = F.floor(F.datediff("w", "cohort") / 7).cast("bigint")
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort", off.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort", "week_offset")
    )


@_register(
    "funnel_stages",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_signup,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                    THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                         AND t_purchase > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM per_user
    """,
    doc="Funnel analysis: users progressing signup → view → purchase "
    "in strict time order, counted per stage (the product-analytics "
    "staple next to cohort_retention; Kibana models it as filter "
    "ratios). Conditional-min aggregation — ONE pass computes each "
    "user's first event per stage, one tiny agg derives the funnel; "
    "no joins, no window, no per-stage scans. NULL semantics do the "
    "ordering work: t_view > t_signup is NULL-false when either "
    "stage is missing, identically in both engines. At 100 TB: a "
    "single user-keyed shuffle, then a scalar aggregate.",
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str) -> Column:
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    reached_signup = F.col("t_signup").isNotNull()
    reached_view = reached_signup & (F.col("t_view") > F.col("t_signup"))
    reached_purchase = reached_view & (
        F.col("t_purchase") > F.col("t_view")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(reached_signup.cast("long")).alias("stage_signup"),
        F.sum(reached_view.cast("long")).alias("stage_view"),
        F.sum(reached_purchase.cast("long")).alias("stage_purchase"),
    )


@_register(
    "value_histogram",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(value / 50.0) AS BIGINT) AS bucket
      FROM events
    )
    SELECT event_type, bucket,
           (bucket * 50.0)::DOUBLE AS bucket_lo,
           count(*) AS n
    FROM b
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
    doc="Fixed-width histogram per event type (width_bucket semantics, "
    "width 50): the Kibana-histogram-panel twin and the profiling "
    "primitive behind skew detection and bin-packed sampling. "
    "floor(value/width) is exact IEEE on both engines for these "
    "magnitudes — no dround needed; one keyed agg on (type, bucket), "
    "map-side combine makes the shuffle carry at most "
    "types x buckets rows regardless of input size.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50.0).cast("bigint")
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 50.0).alias("bucket_lo"),
            "n",
        )
        .orderBy("event_type", "bucket")
    )


@_register(
    "label_centroids",
    f"""
    WITH comp AS (
      SELECT label, pos,
             {sql_dround("embedding[pos]", 4)} AS x
      FROM (
        SELECT label, embedding,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
      )
    )
    SELECT label, pos,
           count(*) AS n,
           {sql_dround("sum(x)", 2)} / count(*) AS centroid
    FROM comp
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    doc="Embedding-space monitoring: per-label centroid, one row per "
    "(label, dimension) — the drift/quality signal a training "
    "pipeline tracks per class (centroid shift between snapshots = "
    "distribution drift; it is also the k-means update step the IVF "
    "trainer runs driver-side on a bounded sample, here executed "
    "fully distributed). posexplode flattens vectors to (label, pos, "
    "component); components are dround(4)-fixed BEFORE the sum "
    "(the engine's fixed-point-before-sum determinism rule), the "
    "mean is an exact IEEE quotient. One shuffle on the composite "
    "(label, pos) key — dims x labels reducers, no hot key, and the "
    "map-side combine means the exchange carries partial sums, not "
    "components.",
    parts=8,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "x0"
        ),
    ).select(
        "label",
        # 1-based to match DuckDB list subscripts
        (F.col("pos0") + 1).alias("pos"),
        dround(F.col("x0"), 4).alias("x"),
    )
    return (
        comp.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (dround(F.sum("x"), 2) / F.count(F.lit(1))).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


@_register(
    "key_skew_profile",
    """
    WITH counts AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ), tot AS (
      SELECT sum(n) AS total, max(n) AS mx FROM counts
    )
    SELECT c.user_id,
           c.n,
           c.n / t.total AS share,
           c.n / t.mx AS rel_to_heaviest
    FROM counts c, tot t
    ORDER BY c.n DESC, c.user_id ASC
    LIMIT 10
    """,
    doc="Skew diagnostics: the top-10 heaviest join/agg keys with "
    "their share of total rows and size relative to the heaviest — "
    "the measurement you run BEFORE reaching for salted_join or AQE "
    "skew hints (a key with share >> 1/parallelism is the hot "
    "reducer). Key counts combine map-side; the single-row totals "
    "fold back in via the data-derived constant-key broadcast hash "
    "join (same trick as unigram_logprob_quality — a literal key "
    "constant-folds into a nested loop); top-10 is a TakeOrdered. "
    "share is an exact IEEE quotient of two longs on both engines.",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # checkpointed (r12): the key-count table feeds both the 1-row
    # total and the share join — un-materialized, the total re-scanned
    # and re-aggregated the fact table a second time
    counts = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(stage_boundary)
    )
    tot = counts.agg(
        F.sum("n").alias("total"), F.max("n").alias("mx")
    ).withColumn("__k", _const_key(F.col("total")))
    joined = counts.withColumn("__k", _const_key(F.col("user_id"))).join(
        F.broadcast(tot), "__k"
    )
    return (
        joined.select(
            "user_id",
            "n",
            (F.col("n") / F.col("total")).alias("share"),
            (F.col("n") / F.col("mx")).alias("rel_to_heaviest"),
        )
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(10)
    )


#: Columns profiled by column_profile (orders table).
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


@_register(
    "column_profile",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS col,
           count(*) AS n,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           count(DISTINCT {c}) AS n_distinct
    FROM orders
    """
        for c in _PROFILE_COLS
    )
    + " ORDER BY col",
    doc="Data profiling: per-column row/null/distinct counts for the "
    "orders table, computed in ONE aggregation pass (a struct per "
    "column inside a single agg, unpivoted to rows afterwards) — "
    "the engine form of DESCRIBE/profile jobs that otherwise scan "
    "once per column. The oracle is the naive per-column UNION ALL; "
    "matching it proves the fused single-pass form. At 100 TB one "
    "pass vs N passes is the whole point; exact distinct counts "
    "shuffle per column — swap approx_count_distinct in where the "
    "±2% HLL bound is acceptable (see approx_distinct_per_day).",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
        ]
    one = orders.agg(*aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    F.col(f"__n_{c}").alias("n"),
                    F.col(f"__null_{c}").alias("n_null"),
                    F.col(f"__dist_{c}").alias("n_distinct"),
                )
                for c in _PROFILE_COLS
            ]
        )
    ).alias("r")
    return one.select(rows).select(
        "r.col", "r.n", "r.n_null", "r.n_distinct"
    ).orderBy("col")


@_register(
    "snapshot_diff",
    """
    WITH a AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ), b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT CASE
             WHEN b.o_orderkey IS NULL THEN 'removed'
             WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
             ELSE 'unchanged'
           END AS status,
           count(*) AS n
    FROM a LEFT JOIN b USING (o_orderkey)
    GROUP BY status
    ORDER BY status
    """,
    doc="Snapshot diff (CDC-style validation): compare two keyed table "
    "snapshots and count unchanged/changed/removed rows — the check "
    "run after every migration, backfill, or upsert batch (the "
    "reference's daily full re-index has no such guard; an engine "
    "needs one). Snapshot B is derived deterministically from A on "
    "both engines (every 11th key deleted, every 7th price bumped). "
    "Plan: one equi-join on the key + one tiny agg; at 100 TB both "
    "snapshots bucket by key at write time and the join goes "
    "exchange-free — diffing cost is a co-partitioned scan, not a "
    "shuffle of history.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", "o_totalprice")
    b = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("b_totalprice"),
    )
    joined = a.join(b, "o_orderkey", "left")
    status = (
        F.when(F.col("b_totalprice").isNull(), "removed")
        .when(F.col("o_totalprice") != F.col("b_totalprice"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


@_register(
    "cube_event_stats",
    f"""
    SELECT event_type,
           dayofweek(ts) + 1 AS dow,
           count(*) AS n,
           {sql_dround("sum(value)", 2)} AS total_value
    FROM events
    GROUP BY CUBE (event_type, dayofweek(ts) + 1)
    ORDER BY event_type, dow
    """,
    doc="Grouping-sets completeness: CUBE over (event_type, "
    "day-of-week) — all four grouping sets (both, each alone, grand "
    "total) in one pass, the companion to rollup_order_totals' "
    "ROLLUP (the two cover everything GROUPING SETS can express). "
    "Compiles to the same grouping-set Expand as ROLLUP (x4 here), "
    "partial aggregation combines map-side, and sums are "
    "dround-fixed. DOW convention differs across engines — Spark "
    "dayofweek is 1=Sunday..7, DuckDB's is 0=Sunday..6 — so the "
    "oracle adds 1.",
)
def q_cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.cube("event_type", F.dayofweek("ts").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type", "dow")
    )


