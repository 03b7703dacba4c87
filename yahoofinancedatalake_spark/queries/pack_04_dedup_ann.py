"""Embedding similarity, the dedup ladder, near-dup + ANN top-k (split from pack.py, r7 — pure refactor).

Registers 10 queries (registration order is the
import order in pack.py):
- ``cosine_topk``
- ``minhash_near_dup``
- ``ngram_jaccard_pairs``
- ``simhash_near_dup``
- ``incremental_dedup_gate``
- ``dedup_clusters``
- ``embedding_near_dup``
- ``ann_topk``
- ``ivf_topk``
- ``multimodal_features``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.scalars import dround, sentiment_label, sql_dround
from yahoofinancedatalake_spark.queries._registry import (
    _register,
)


# ---------------------------------------------------------------------------
# Extensions — embedding similarity search over `embeddings`
# ---------------------------------------------------------------------------


@_register(
    "cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 3
    ), pairs AS (
      SELECT q.query_id,
             e.vec_id AS neighbor_id,
             {sql_dround(
                 "list_dot_product(q.qv, e.embedding::DOUBLE[])"
                 " / (sqrt(list_dot_product(q.qv, q.qv))"
                 " * sqrt(list_dot_product(e.embedding::DOUBLE[],"
                 " e.embedding::DOUBLE[])))", 4)}
               AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine
    FROM pairs
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id ASC) <= 5
    """,
    doc="Similarity search: brute-force cosine top-5 for 3 query vectors. "
    "Query side is broadcast; the corpus scan is embarrassingly "
    "parallel — the 100 TB baseline an IVF/LSH variant is judged "
    "against (see operators/similarity.py).",
    parts=8,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import (
        brute_force_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)  # single-row-group file → parallelize the hot compute
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return brute_force_cosine_topk(
        queries, emb, k=5, id_col="vec_id", vec_col="embedding", round_to=4
    )


# ---------------------------------------------------------------------------
# Extensions — the dedup ladder over `documents` (SURVEY.md §7.8)
# ---------------------------------------------------------------------------

# DuckDB mirror of operators.dedup.shingles (word n-grams, distinct,
# whole-text fallback for short docs, empty for empty docs).
_SQL_SHINGLES = """
    toks AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               t -> t <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE
               WHEN len(w) >= 3 THEN list_distinct(
                 [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
               WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
               ELSE []
             END AS s
      FROM toks
    )
"""


@_register(
    "minhash_near_dup",
    f"""
    WITH {_SQL_SHINGLES}
    SELECT a.doc_id AS id_a,
           b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE jaccard >= 0.9
    """,
    doc="MinHash+LSH near-dup detection, verified by exact n-gram "
    "Jaccard >= 0.9. Spark plan: one-UDF vectorized minhash signature "
    "(siphash tokens + rotate/xor window combine, numpy fold) → "
    "8-band bucket join (one shuffle on the bucket key, no crossJoin) "
    "→ exact Jaccard on candidates only, over hashed shingle sets "
    "(value equals the string-shingle Jaccard modulo ~2e-64 hash "
    "collisions). The oracle is the O(n²) string-shingle ground "
    "truth — at sf0.01 every planted pair (j≈0.98) is caught by "
    "banding with miss prob ~1e-9 per pair, and the data is fixed.",
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import (
        verified_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)  # single-row-group file → parallelize the hot compute
    return verified_near_dup_pairs(docs, "doc_id")


@_register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_SQL_SHINGLES}
    SELECT a.doc_id AS id_a,
           b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 40 AND b.doc_id < 40
    """,
    doc="Exact word-3-gram Jaccard similarity for every pair in a "
    "40-doc block — the verify kernel of the dedup ladder, "
    "value-checked against DuckDB's list algebra.",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import ngram_jaccard

    docs = load_table(spark, sf_dir, "documents")
    block = docs.filter(F.col("doc_id") < 40)
    ids = block.select(F.col("doc_id").alias("id_a"))
    pairs = ids.join(
        block.select(F.col("doc_id").alias("id_b")),
        F.col("id_a") < F.col("id_b"),
    )
    return ngram_jaccard(pairs, docs, "doc_id", "text", shingle_n=3)


@_register(
    "simhash_near_dup",
    None,  # xxhash64-based fingerprint has no SQL twin → rows-only check
    doc="SimHash near-dup pairs: 64-bit fingerprint, 1-bit multi-probe "
    "blocking (5 chunks of ~13 bits for Hamming <= 9: some chunk "
    "differs by <= 1 bit, so exact-value x 1-bit-flip probes give "
    "exact recall at the stated radius; equi-join, no crossJoin — "
    "13-bit buckets stay sparse where 6-bit pigeonhole chunks "
    "measured 1.9M candidate pairs for 254 true ones at sf0.1), "
    "exact bit_count(xor) verify. Operating point: every planted "
    "sf0.01 near-dup sits at Hamming <= 8 (measured). Rows-only: the "
    "fingerprint hash family is not expressible in ANSI SQL; pytest "
    "asserts every planted pair is recovered (tests/test_dedup.py).",
    parts=8,
)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs)  # single-row-group file → parallelize the hot compute
    return simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=9, shingle_n=2
    )


@_register(
    "incremental_dedup_gate",
    "SELECT 'incremental_equals_full' AS metric, TRUE AS passed",
    doc="Incremental LSH dedup equivalence under the DRIVER gate (was "
    "pytest-only): documents split deterministically (xxhash64 of "
    "doc_id, 80/20) into history and a daily batch; history lands "
    "its (id, band, bucket) index once (minhash_band_table) and the "
    "increment is deduped against it WITHOUT re-shingling history "
    "(minhash_lsh_pairs with index=: O(batch) hash + indexed bucket "
    "join — the shape that turns daily dedup at 100 TB from "
    "O(corpus) into O(batch)). Gate: the incremental pair set must "
    "EQUAL the full recompute over history ∪ batch minus known "
    "old×old pairs — asserted as an empty symmetric difference "
    "(two exceptAlls unioned into one lazy count; pair tables are "
    "candidate-sized, hundreds of rows). passed=TRUE hash-matches "
    "the constant oracle only if the sets are identical.",
    parts=8,
)
def q_incremental_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bucket = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10))
    hist = docs.filter(bucket < 8)
    batch = docs.filter(bucket >= 8)
    index = minhash_band_table(hist, "text", "doc_id")
    inc = minhash_lsh_pairs(batch, "text", "doc_id", index=index)
    full = minhash_lsh_pairs(docs, "text", "doc_id")
    old_ids = hist.select("doc_id")
    # expected = full pairs minus the already-known old×old pairs:
    # keep a pair iff either endpoint is NOT in history (broadcast
    # semi-join flags, no collect)
    a_old = old_ids.select(F.col("doc_id").alias("id_a"))
    b_old = old_ids.select(F.col("doc_id").alias("id_b"))
    expected = full.join(
        F.broadcast(a_old.withColumn("__ha", F.lit(1))), "id_a", "left"
    ).join(
        F.broadcast(b_old.withColumn("__hb", F.lit(1))), "id_b", "left"
    ).filter(
        F.col("__ha").isNull() | F.col("__hb").isNull()
    ).select("id_a", "id_b")
    sym_diff = expected.exceptAll(inc).unionByName(
        inc.exceptAll(expected)
    )
    return sym_diff.agg(
        F.count(F.lit(1)).alias("__n")
    ).select(
        F.lit("incremental_equals_full").alias("metric"),
        (F.col("__n") == 0).alias("passed"),
    )


@_register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    jac AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE
            / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.9
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION SELECT id_b, id_a FROM jac
    ),
    reach AS (
      SELECT a AS node, a AS comp FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON r.node = e.a
    )
    SELECT node AS doc_id, min(comp) AS cluster_id
    FROM reach GROUP BY node
    """,
    doc="Dedup clusters by the engine's one near-dup closure: verified "
    "pairs, then star-contraction components, cluster_id = min doc_id. "
    "Near-dup PAIRS (minhash-LSH + Jaccard >= 0.9 verify, "
    "operators/dedup.verified_near_dup_pairs) closed into connected "
    "components — the keep-list step (keep doc_id == cluster_id) that "
    "handles transitive near-duplication A~B~C, and the same closure "
    "the prep pipeline runs. Spark side is "
    "operators/dedup.connected_components: "
    "alternating large/small-star contraction, one group-by per step, "
    "O(log n) steps on any cluster diameter, one observed open-node "
    "count per step to the driver, and an error instead of partial "
    "labels if it runs out of steps; the oracle closes the same pair "
    "graph with a recursive CTE.",
    parts=8,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.dedup import (
        connected_components,
        verified_near_dup_pairs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    cc = connected_components(verified_near_dup_pairs(docs, "doc_id"))
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Extensions — embedding near-dup + ANN top-k over `embeddings`
# ---------------------------------------------------------------------------

from yahoofinancedatalake_spark.operators.similarity import (  # noqa: E402
    random_hyperplanes as _random_hyperplanes,
)

_ND_PLANES = _random_hyperplanes(dim=64, n_planes=16, seed=7)
_ND_PLANES_SQL = ", ".join(
    "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
    for plane in _ND_PLANES
)


@_register(
    "embedding_near_dup",
    f"""
    WITH sig AS (
      SELECT vec_id,
             embedding::DOUBLE[] AS v,
             [CASE WHEN list_dot_product(embedding::DOUBLE[], p) >= 0
                   THEN '1' ELSE '0' END
              FOR p IN [{_ND_PLANES_SQL}]] AS bits
      FROM embeddings
    ),
    banded AS (
      SELECT vec_id, band,
             array_to_string(bits[band * 4 + 1 : band * 4 + 4], '') AS bb
      FROM sig, range(4) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM banded l
      JOIN banded r ON l.band = r.band AND l.bb = r.bb
                    AND l.vec_id < r.vec_id
    )
    SELECT id_a, id_b,
           {sql_dround(
               "list_dot_product(a.v, b.v)"
               " / (sqrt(list_dot_product(a.v, a.v))"
               " * sqrt(list_dot_product(b.v, b.v)))", 4)} AS cosine
    FROM cand
    JOIN sig a ON cand.id_a = a.vec_id
    JOIN sig b ON cand.id_b = b.vec_id
    WHERE cosine >= 0.45
    """,
    doc="Embedding near-dup pairs: sign-LSH blocking (16 hyperplanes, "
    "4 bands — the bucket join is linear, no crossJoin) + vectorized "
    "exact cosine verify >= 0.45 on the deduped id-only candidates "
    "(the 64-double payload never rides the band explode or bucket "
    "shuffle). 4-bit bands are deliberate: the testdata's strongest "
    "pairs sit at cosine ≈ 0.5 where sign agreement is only ~2/3 per "
    "plane, so wider bands collapse recall (measured: 6-bit bands "
    "find 2 of 14 threshold pairs vs 6 for 4-bit); at a production "
    "near-dup threshold (0.9+) wider bands are the right trade. The "
    "oracle mirrors the SAME blocking with the same hyperplane "
    "literals; sign margins and threshold gaps dwarf cross-engine "
    "summation jitter (~1e-15), so decisions are identical on the "
    "fixed testdata.",
    parts=8,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)  # single-row-group file → parallelize the hot compute
    return lsh_near_dup_pairs(
        emb, threshold=0.45, dim=64, n_planes=16, n_bands=4, seed=7
    )


@_register(
    "ann_topk",
    None,  # approximate by construction → rows-only; recall tested in pytest
    doc="Approximate nearest neighbors: sign-LSH banded candidate join "
    "then exact cosine re-rank, top-5 per query. The 100 TB scale path "
    "for similarity search (bucket shuffle instead of full scan per "
    "query); recall vs brute force asserted in tests/test_similarity.py.",
    parts=8,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import lsh_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)  # single-row-group file → parallelize the hot compute
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return lsh_cosine_topk(
        queries, emb, k=5, dim=64, n_planes=24, n_bands=12, seed=7
    )


@_register(
    "ivf_topk",
    None,  # approximate by construction → rows-only; recall tested in pytest
    doc="Approximate nearest neighbors via an IVF index: k-means coarse "
    "quantizer trained on a deterministic bounded sample, corpus "
    "posted under its 2 nearest of 8 clusters (FAISS-style "
    "replication — lifts recall on weakly-clustered data), queries "
    "probe their 5 nearest clusters → candidate equi-join on cluster "
    "id, exact cosine re-rank. The FAISS-style alternative scale "
    "path to ann_topk's sign-LSH; recall@5 ≥ 0.95 enforced by the "
    "ivf_recall CORRECTNESS gate and tests/test_similarity.py.",
    parts=8,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(emb)  # single-row-group file → parallelize the hot compute
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return ivf_cosine_topk(
        queries, emb, k=5, n_centroids=8, n_probe=5, n_assign=2, seed=11,
        cache_key=sf_dir,
    )


@_register(
    "multimodal_features",
    None,  # binary payloads + registered codec → not ANSI-SQL-expressible
    doc="Multimodal pipeline end-to-end: documents re-landed as a media "
    "table (binary payload + typed metadata), metadata filter "
    "width >= 64 prunes BEFORE any payload touch (codegen, no "
    "deserialize), then Arrow-batched mapInPandas decode+featurize "
    "(deterministic fake codec — the container ships no "
    "image/audio libs; plumbing, schema, and batch shapes are the "
    "real contract), JVM-side resize planning, and per-frame "
    "sampling for videos. No fan_out here by design: the stub codec "
    "is cheaper than a repartition exchange, so pipelining the whole "
    "flow in the scan tasks wins — with a REAL codec registered, "
    "insert fan_out before extract_features (cost model: "
    "compute-per-row >> shuffle-per-row, see multimodal.py). "
    "Rows-only: feature values are pytest-checked against the codec "
    "stub (tests/test_multimodal.py).",
    parts=8,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yahoofinancedatalake_spark.operators.multimodal import (
        extract_features,
        fake_decoder,
        register_decoder,
        resize_metadata,
        sample_frames,
    )

    for kind in ("image", "audio", "video"):
        register_decoder(kind, fake_decoder)
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("raw").alias("format"),
        (F.col("doc_id") % 480 + 32).cast("int").alias("width"),
        (F.col("doc_id") % 360 + 24).cast("int").alias("height"),
        F.when(F.col("doc_id") % 3 == 2, (F.col("doc_id") % 90 + 10))
        .cast("int")
        .alias("n_frames"),
        F.when(F.col("doc_id") % 3 == 1, F.lit(16000)).cast("int")
        .alias("sample_rate"),
    )
    # metadata-only pruning: never deserializes the payload
    sized = resize_metadata(media.filter(F.col("width") >= 64), max_side=128)
    feats = extract_features(sized)
    frames = (
        sample_frames(sized, every_nth=10)
        .groupBy("media_id")
        .agg(F.count("*").alias("n_sampled_frames"))
    )
    mean_feat = dround(
        F.aggregate(
            F.col("feature"), F.lit(0.0), lambda a, v: a + v
        ) / F.greatest(F.size("feature"), F.lit(1)),
        6,
    )
    return (
        feats.join(
            sized.select("media_id", "resized_width", "resized_height"),
            "media_id",
        )
        .join(frames, "media_id", "left")
        .select(
            "media_id",
            "kind",
            "n_bytes",
            mean_feat.alias("feature_mean"),
            "resized_width",
            "resized_height",
            F.coalesce("n_sampled_frames", F.lit(0)).alias("n_sampled_frames"),
        )
    )


