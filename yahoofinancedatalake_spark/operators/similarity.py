"""Embedding similarity search (beyond-parity extension, SURVEY.md §7.8).

Two strategies over an ``array<float>`` embedding column:

- :func:`brute_force_cosine_topk` — exact top-k. The query set is
  broadcast; the corpus scan is embarrassingly parallel; per-partition
  top-k then a driver merge (TakeOrderedAndProject per query via
  window + filter on the *small* pair set). This is the correctness
  baseline.
- :func:`lsh_cosine_topk` — random-hyperplane LSH (SimHash for
  vectors): bucket corpus and queries by sign-pattern, only compare
  within matching buckets. Candidate generation is a hash
  equi-join — at 100 TB the crossJoin disappears and the shuffle is
  on the bucket key. Recall < 1 by construction; band count trades
  recall vs cost.

Vector math on the *bulk* paths (hyperplane signatures, candidate
cosine verify, IVF assignment) runs as Arrow-batched numpy
``pandas_udf`` matmuls — Spark's array higher-order functions
evaluate interpreted (no codegen), which loses by ~10-100x on wide
vectors. The HOF forms (:func:`dot`, :func:`l2_norm`) are kept for
the broadcast brute-force baseline and per-candidate use, where they
stay off the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.session import stage_boundary


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


# Session-scoped index-training memo. Training an ANN index is a
# build-once artifact (FAISS trains a quantizer once and serves every
# query against it; a production deployment persists centroids and
# codebooks next to the index), so re-collecting the same bounded
# sample and re-running the same deterministic k-means for every query
# in a session is pure waste — measured ~2s per index query at sf0.1
# across the 6 IVF/PQ/IVFPQ entries. Keyed by an EXPLICIT caller key
# (the dataset path) plus every training parameter; None disables
# caching entirely (tests that mutate fixtures pass cache_key=None).
# A string cache_key that is an existing path is validated against a
# (name, mtime_ns, size) fingerprint of the files under it, so data
# REWRITTEN at the same path within a session invalidates the memo
# instead of silently serving stale centroids/codebooks. Entries are
# keyed by (cache_key, params) and REPLACED when the fingerprint
# changes — a superseded rewrite evicts its predecessor's collected
# sample/codebooks instead of stranding them for the session
# lifetime (one live entry per dataset path).
_SAMPLE_CACHE: dict = {}
_TRAIN_CACHE: dict = {}


def _memo_get(cache: dict, ident, fp):
    ent = cache.get(ident)
    return ent[1] if ent is not None and ent[0] == fp else None


def _memo_put(cache: dict, ident, fp, value) -> None:
    cache[ident] = (fp, value)


def _fingerprint(cache_key):
    import os  # noqa: PLC0415

    if not isinstance(cache_key, str) or not os.path.exists(cache_key):
        return cache_key
    if os.path.isfile(cache_key):
        # os.walk on a regular file yields nothing → the fingerprint
        # would be ('path', ()) forever and a rewritten single-file
        # dataset at the same path would serve stale centroids —
        # exactly the staleness this function exists to prevent.
        st = os.stat(cache_key)
        return (cache_key, ((cache_key, st.st_mtime_ns, st.st_size),))
    sig = []
    for root, dirs, names in os.walk(cache_key):
        dirs[:] = sorted(d for d in dirs if not d.startswith("."))
        for n in sorted(names):
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            sig.append((os.path.join(root, n), st.st_mtime_ns, st.st_size))
    return (cache_key, tuple(sig))


def _training_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    sample_mod: int,
    train_cap: int,
    cache_key=None,
) -> "list[list[float]]":
    """Deterministic size-capped training sample (the only driver
    collect on any index path): rate-bound by the id-hash filter,
    size-bound by the FAISS-style ~max(10k, 39·k) cap."""
    ident = (cache_key, id_col, vec_col, sample_mod, train_cap)
    fp = _fingerprint(cache_key)
    if cache_key is not None:
        hit = _memo_get(_SAMPLE_CACHE, ident, fp)
        if hit is not None:
            return hit
    rows = (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), sample_mod) == 0)
        .select(_as_double(F.col(vec_col)).alias("v"))
        .limit(train_cap)
        .collect()
    )
    sample = [r.v for r in rows]
    if cache_key is not None:
        _memo_put(_SAMPLE_CACHE, ident, fp, sample)
    return sample


def _cached_train(kind: str, fn, cache_key, *params):
    """Memo for the deterministic trainers (same seed + same sample →
    bit-identical output, so caching cannot change any result)."""
    ident = (kind, cache_key, *params)
    fp = _fingerprint(cache_key)
    if cache_key is not None:
        hit = _memo_get(_TRAIN_CACHE, ident, fp)
        if hit is not None:
            return hit
    out = fn()
    if cache_key is not None:
        _memo_put(_TRAIN_CACHE, ident, fp, out)
    return out


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (left-to-right, double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def brute_force_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    round_to: int | None = 4,
    n_salts: int = 32,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries``: (query_id, qv) — small, broadcast.
    ``corpus``: (id_col, vec_col) — arbitrarily large, scanned once.
    Self-matches (same id) are excluded.

    Top-k is two-phase to avoid reducer skew: a window over
    (query_id, salt) keeps k rows per salt (n_salts reducers per
    query), then the final window ranks the ≤ k·n_salts survivors per
    query. With few queries and a huge corpus, a single-phase window
    would funnel all n_corpus·n_queries scored pairs into n_queries
    reducers. Result is identical (top-k of per-salt top-k is exact;
    ties broken deterministically by neighbor id).
    """
    from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

    # Precompute norms once per vector (not once per pair — at n
    # queries that's a 3-passes→1-pass cut on the corpus side).
    corpus_n = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    queries_n = queries.select(
        F.col(query_id_col),
        _as_double(F.col(query_vec_col)).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    sim = dot(F.col("__qv"), F.col("__cv")) / F.nullif(
        F.col("__qn") * F.col("__cn"), F.lit(0.0)
    )
    if round_to is not None:
        sim = dround(sim, round_to)
    pairs = (
        corpus_n.join(F.broadcast(queries_n))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    order = (F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc())
    w_local = Window.partitionBy(
        query_id_col, F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salts))
    ).orderBy(*order)
    local = (
        pairs.withColumn("__rn", F.row_number().over(w_local))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (driver-side, tiny)."""
    import numpy as np  # noqa: PLC0415

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def band_values(
    vec: Column, planes: list[list[float]], n_bands: int
) -> Column:
    """Sign-LSH band bucket values of ``vec``: one matmul against the
    (tiny, closure-captured) hyperplane matrix per Arrow batch, sign
    bits packed per band into an int — ``array<int>`` of length
    ``n_bands``. Replaces the per-plane interpreted-HOF dot products
    (n_planes folds per row, no codegen) with vectorized numpy."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    p = np.asarray(planes, dtype=np.float64)
    n_planes = len(planes)
    band_size = n_planes // n_bands

    def _bv(batch):
        m = np.asarray(batch.tolist(), dtype=np.float64)
        bits = (m @ p.T) >= 0  # (B, n_planes)
        vals = np.zeros((len(m), n_bands), dtype=np.int32)
        for b in range(n_bands):
            for j in range(band_size):
                vals[:, b] = (vals[:, b] << 1) | bits[:, b * band_size + j]
        return pd.Series(list(vals))

    _bv.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return F.pandas_udf(_bv, "array<int>")(vec)


def pair_cosine(a: Column, b: Column, round_to: int | None = 4) -> Column:
    """Exact cosine for candidate *pairs*, vectorized: one Arrow batch
    → row-wise einsum + norms in numpy (the verify step after LSH/IVF
    blocking — runs on candidates only). Null on zero-norm inputs, so
    such a pair fails every threshold filter and sorts last in top-k."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def _pc(va, vb):
        x = np.asarray(va.tolist(), dtype=np.float64)
        y = np.asarray(vb.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", x, y)
        den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den == 0, np.nan, num / den)
        return pd.Series(out)

    _pc.__annotations__ = {"va": pd.Series, "vb": pd.Series,
                           "return": pd.Series}
    sim = F.pandas_udf(_pc, "double")(a, b)
    sim = F.when(F.isnan(sim), F.lit(None).cast("double")).otherwise(sim)
    if round_to is not None:
        from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

        sim = dround(sim, round_to)
    return sim


def banded_signature(
    df: DataFrame,
    vec_col: str,
    keep: list[str],
    planes: list[list[float]],
    n_bands: int,
) -> DataFrame:
    """Explode a sign-LSH signature into (band, bits) bucket rows
    (``bits`` is the packed int band value from :func:`band_values`)."""
    df = df.withColumn("__bv", band_values(F.col(vec_col), planes, n_bands))
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.col("__bv")[i].alias("bits"),
            )
            for i in range(n_bands)
        ]
    )
    return df.withColumn("__band", F.explode(bands)).select(
        *keep,
        vec_col,
        F.col("__band.band").alias("band"),
        F.col("__band.bits").alias("bits"),
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    round_to: int | None = 4,
) -> DataFrame:
    """All-pairs embedding near-duplicates: LSH blocking + exact verify.

    Pairs colliding on any sign-LSH band become candidates (one
    shuffle on the (band, bits) bucket key — linear in corpus size,
    never the O(n²) crossJoin); candidates are verified with the exact
    cosine and kept when ``cosine >= threshold``. Returns
    (id_a, id_b, cosine) with id_a < id_b.

    This is the scale path for "find duplicate embeddings in 100 TB":
    bucket width (n_planes / n_bands) trades recall against candidate
    volume; recall for true near-dups (cosine → 1) approaches 1
    because their sign bits almost always agree.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    prepped = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    banded = banded_signature(prepped, "__v", [id_col], planes, n_bands).select(
        id_col, "band", "bits"  # ids only — the 64-double payload must
    )  # not ride the band explode, bucket shuffle, and pair dedup
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bits") == F.col("r.bits"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # fetch vectors for the deduped candidates only, then verify
    a = prepped.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    b = prepped.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    sim = pair_cosine(F.col("__va"), F.col("__vb"), round_to)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_centroids(
    sample: "list[list[float]]", k: int, iters: int = 20, seed: int = 11
) -> "list[list[float]]":
    """Deterministic Lloyd's k-means on a (small, driver-side) sample of
    unit-normalized vectors — the IVF coarse quantizer trainer.

    IVF training always runs on a bounded sample (FAISS trains on
    ~max(10k, 39·k) points regardless of corpus size), so a
    driver-side fit is the honest scale design too: the *corpus* is
    never collected, only the fixed-size training sample. Fixed seed +
    fixed iteration count + argmin tie-break by lowest index →
    bit-deterministic centroids for the tests and oracles.
    """
    import numpy as np  # noqa: PLC0415

    x = np.asarray(sample, dtype=np.float64)
    n = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(n == 0, 1.0, n)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        # cosine distance on unit vectors == ordering by dot product
        assign = (x @ cent.T).argmax(1)
        for j in range(len(cent)):
            mask = assign == j
            if mask.any():
                m = x[mask].mean(0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    cent[j] = m / nm
    return cent.tolist()


def _ivf_assign_udf(centroids: "list[list[float]]", n_probe: int):
    """Vectorized cluster assignment: numpy argsort of the dot products
    against the (tiny, closure-captured) centroid matrix. Returns the
    ``n_probe`` nearest centroid ids per vector — Arrow batches in,
    one matmul per batch, no per-row Python."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    cent = np.asarray(centroids, dtype=np.float64)

    def assign(batch):
        m = np.asarray(batch.tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        m = m / np.where(norms == 0, 1.0, norms)
        # stable argsort → deterministic probe order under ties
        order = np.argsort(-(m @ cent.T), axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype("int32")))

    # `from __future__ import annotations` stringifies hints and `pd`
    # is function-local here, so attach real annotation objects instead.
    assign.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return pandas_udf(assign, "array<int>")


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    sample_mod: int = 3,
    seed: int = 11,
    round_to: int | None = 4,
    n_assign: int = 1,
    cache_key=None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index —
    the other classic ANN scale path next to :func:`lsh_cosine_topk`.

    1. Train a coarse quantizer (k-means centroids) on a deterministic
       corpus sample (``xxhash64(id) % sample_mod == 0`` rate bound plus
       a ``max(10_000, 39·n_centroids)`` absolute cap, mirroring FAISS's
       bounded training set — the only data that ever reaches the
       driver, O(n_centroids) regardless of corpus size).
    2. Assign every corpus vector to its ``n_assign`` nearest
       centroids — one Arrow-batched matmul per partition.
       ``n_assign > 1`` is FAISS-style index replication (each vector
       posted under several clusters, cf. ScaNN's spilled/SOAR
       assignment): a true neighbor is found if ANY of its clusters
       is probed, which lifts recall steeply on weakly-clustered data
       at the cost of an ``n_assign``× larger index.
    3. Assign every query its ``n_probe`` nearest centroids and
       explode → the candidate join is an equi-join on ``cluster``,
       scanning ~``n_probe / n_centroids`` of the corpus per query
       instead of all of it.
    4. Exact cosine re-rank of candidates, top-k per query.

    At 100 TB: the corpus is hash-partitioned by cluster id once
    (write-time bucketing makes step 4 shuffle-free), centroids are a
    closure-broadcast constant, and recall is tuned by ``n_probe``.
    """
    from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

    # Rate-bound via the hash filter, then SIZE-bound with the FAISS-style
    # training cap (~max(10k, 39·k) points): any deterministic prefix of
    # the hash-sampled stream is a valid training sample, and the absolute
    # limit keeps the driver collect O(n_centroids), not O(corpus) — at
    # 100 TB the rate bound alone would still pull ~1/sample_mod of the
    # corpus through the driver.
    train_cap = max(10_000, 39 * n_centroids)
    sample = _training_sample(
        corpus, id_col, vec_col, sample_mod, train_cap, cache_key
    )
    cent = _cached_train(
        "ivf",
        lambda: kmeans_centroids(sample, n_centroids, seed=seed),
        cache_key,
        id_col,
        vec_col,
        sample_mod,
        train_cap,
        n_centroids,
        seed,
    )

    if n_assign == 1:
        corpus_assigned = corpus.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias("__cv"),
            _ivf_assign_udf(cent, 1)(F.col(vec_col))[0].alias("cluster"),
        )
    else:
        corpus_assigned = corpus.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias("__cv"),
            F.explode(
                _ivf_assign_udf(cent, n_assign)(F.col(vec_col))
            ).alias("cluster"),
        )
    corpus_assigned = corpus_assigned.withColumn(
        "__cn", l2_norm(F.col("__cv"))
    )
    query_probes = queries.select(
        F.col(query_id_col),
        _as_double(F.col(query_vec_col)).alias("__qv"),
        F.explode(
            _ivf_assign_udf(cent, n_probe)(F.col(query_vec_col))
        ).alias("cluster"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))

    sim = dot(F.col("__qv"), F.col("__cv")) / F.nullif(
        F.col("__qn") * F.col("__cn"), F.lit(0.0)
    )
    if round_to is not None:
        sim = dround(sim, round_to)
    pairs = (
        corpus_assigned.join(F.broadcast(query_probes), "cluster")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    if n_assign > 1:
        # multi-assignment can surface the same (query, neighbor) pair
        # via several shared clusters — dedup before ranking so a
        # duplicate never occupies two top-k slots
        pairs = pairs.dropDuplicates([query_id_col, "neighbor_id"])
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH banding.

    The ``n_planes``-bit signature is split into ``n_bands`` bands;
    vectors colliding on ANY band become candidates (standard
    MinHash-LSH banding applied to sign bits). The candidate join is
    a shuffle on (band, band_bits) — linear, not quadratic.
    """
    planes = random_hyperplanes(dim, n_planes, seed)

    cband = banded_signature(corpus, vec_col, [id_col], planes, n_bands).select(
        id_col, "band", "bits"  # ids only through the bucket join
    )
    qband = banded_signature(
        queries, query_vec_col, [query_id_col], planes, n_bands
    ).select(query_id_col, "band", "bits")
    candidates = (
        cband.join(qband, ["band", "bits"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    withvecs = candidates.join(
        corpus.select(id_col, vec_col), id_col
    ).join(F.broadcast(queries.select(query_id_col, query_vec_col)),
           query_id_col)
    sim = pair_cosine(F.col(query_vec_col), F.col(vec_col), 4)
    pairs = withvecs.select(
        query_id_col, F.col(id_col).alias("neighbor_id"), sim.alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    sample: "list[list[float]]",
    m: int,
    ks: int,
    iters: int = 20,
    seed: int = 11,
) -> "list[list[list[float]]]":
    """Deterministic per-subspace L2 Lloyd's k-means — the PQ trainer.

    Splits the dimension into ``m`` contiguous subspaces and fits
    ``ks`` centroids per subspace on the (driver-side, size-capped)
    training sample, exactly the FAISS ``ProductQuantizer.train``
    recipe. Unlike the IVF coarse quantizer this trains on RAW
    subvectors with L2 distance: PQ reconstructs the vector itself
    (x ≈ concat over s of codebook[s][code_s]), so dot products and
    norms computed from the codebooks approximate the true ones.
    Fixed seed + fixed iterations + argmin (lowest-index tie-break)
    → bit-deterministic codebooks.
    """
    import numpy as np  # noqa: PLC0415

    x = np.asarray(sample, dtype=np.float64)
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        cent = xs[rng.choice(n, size=min(ks, n), replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(len(cent)):
                mask = assign == j
                if mask.any():
                    cent[j] = xs[mask].mean(0)
        books.append(cent.tolist())
    return books


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 8,
    ks: int = 16,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    sample_mod: int = 3,
    seed: int = 11,
    round_to: int | None = 4,
    cache_key=None,
) -> DataFrame:
    """Approximate cosine top-k via product quantization with exact
    re-rank — the compressed-domain ANN path (FAISS ``IndexPQ`` /
    ADC scan), third strategy next to LSH and IVF.

    1. Train ``m``×``ks`` sub-codebooks on the same deterministic
       size-capped sample as IVF (the only driver collect,
       O(m·ks) result).
    2. Encode + ADC-scan the corpus in ONE ``mapInPandas`` pass
       (r12, guide §4.1 — encode used to be its own ArrowEvalPython
       stage, so the corpus crossed the Python boundary twice: the
       raw vectors into the encoder, then the codes back out and
       into the scanner; fused, the vectors cross once and the codes
       live only as a numpy intermediate inside the kernel): per
       batch, each vector → ``m`` codes (m·log2(ks) bits ≈ 4 bytes
       at the defaults vs 256 bytes of float32 — a 64× compression;
       a *persisted* 100 TB deployment would still materialize the
       codes table once at write time and scan it here), then score
       every code row against ALL queries using per-query lookup
       tables (LUT[s][c] = q_s · codebook[s][c]; approximate norm
       from the codebook norms), keep the per-partition
       top-``rerank`` per query. Only (query, id, score) triples —
       never vectors, never codes — leave the scan.
    4. Global top-``rerank`` per query, then exact cosine re-rank on
       the raw vectors of the ≤ Q·rerank candidates (broadcast
       semi-join back to the corpus), top-k.

    The ADC scan reads the full codes table per query batch — that is
    PQ's contract (sequential compressed scan, no pruning); IVF
    provides the pruning axis and IVF+PQ would compose both. Recall
    is gated by ``pq_recall`` like the other two indexes.
    """
    import numpy as np  # noqa: PLC0415

    train_cap = max(10_000, 39 * ks)
    sample = _training_sample(
        corpus, id_col, vec_col, sample_mod, train_cap, cache_key
    )
    books = _cached_train(
        "pq",
        lambda: train_pq_codebooks(sample, m, ks, seed=seed),
        cache_key,
        id_col,
        vec_col,
        sample_mod,
        train_cap,
        m,
        ks,
        seed,
    )

    qrows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = [r[0] for r in qrows]
    q_mat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    books_np = [np.asarray(b, dtype=np.float64) for b in books]
    dsub = books_np[0].shape[1]
    # LUTs are a (Q, m, ks) closure constant — broadcast with the task
    luts = np.stack(
        [
            np.stack(
                [
                    q_mat[:, s * dsub : (s + 1) * dsub] @ books_np[s].T
                    for s in range(m)
                ],
                axis=1,
            )
        ],
        axis=0,
    )[0]  # (Q, m, ks)
    norm_lut = np.stack(
        [(b**2).sum(1) for b in books_np], axis=0
    )  # (m, ks)
    q_norms = np.linalg.norm(q_mat, axis=1)  # (Q,)
    q_ids_np = np.asarray(q_ids)

    out_schema = (
        f"{query_id_col} long, neighbor_id long, adc double"
    )

    books_norm2 = [(b**2).sum(1)[None, :] for b in books_np]  # (1, ks) each

    def adc_scan(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            # PQ encode: per subspace, argmin ||xs - c||² via the
            # one-matmul expansion ||xs||² - 2 xs·c + ||c||², whose
            # ||xs||² term is constant per row and dropped
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            c = np.empty((len(x), m), dtype=np.int64)  # (n, m)
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d2 = -2.0 * (xs @ books_np[s].T) + books_norm2[s]
                c[:, s] = d2.argmin(1)
            n = len(ids)
            scores = np.zeros((len(q_ids_np), n))
            approx_sq = np.zeros(n)
            for s in range(m):
                scores += luts[:, s, c[:, s]]
                approx_sq += norm_lut[s, c[:, s]]
            denom = q_norms[:, None] * np.sqrt(approx_sq)[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                adc = np.where(denom > 0, scores / denom, -np.inf)
            r = min(rerank, n)
            # per-partition top-r per query; exact order fixed later
            idx = np.argpartition(-adc, r - 1, axis=1)[:, :r]
            qi = np.repeat(q_ids_np, r)
            ni = ids[idx.ravel()]
            sc = np.take_along_axis(adc, idx, axis=1).ravel()
            keep = np.isfinite(sc)
            yield pd.DataFrame(
                {
                    query_id_col: qi[keep],
                    "neighbor_id": ni[keep],
                    "adc": sc[keep],
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        adc_scan, schema=out_schema
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    candidates = (
        partial.filter(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("__rn", F.row_number().over(w_adc))
        .filter(F.col("__rn") <= rerank)
        .select(query_id_col, "neighbor_id")
    )
    withvecs = (
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col)
        .join(F.broadcast(candidates), "neighbor_id")
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
    )
    sim = pair_cosine(F.col(query_vec_col), F.col(vec_col), round_to)
    pairs = withvecs.select(
        query_id_col, "neighbor_id", sim.alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivfpq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 8,
    n_probe: int = 5,
    n_assign: int = 2,
    m: int = 16,
    ks: int = 32,
    rerank: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    sample_mod: int = 3,
    seed: int = 11,
    round_to: int | None = 4,
    cache_key=None,
) -> DataFrame:
    """IVF+PQ composed index — the FAISS ``IndexIVFPQ`` shape (here
    with ``by_residual=false``: codes encode raw vectors, not
    centroid residuals, trading a little quantization accuracy for
    one shared codebook across clusters — the exact re-rank stage
    absorbs the difference).

    IVF contributes the PRUNING axis (only ``n_probe/n_centroids`` of
    the corpus is scored per query), PQ the COMPRESSION axis (what
    flows out of the index scan is (query, neighbor, adc) triples,
    never the raw vector — where plain :func:`ivf_cosine_topk` ships
    the full ``__cv`` double array through its join). Pipeline: one
    shared size-capped training sample → coarse centroids +
    sub-codebooks; then ONE fused ``mapInPandas`` pass over the
    corpus (r12, guide §4.1/§2.3 — previously assign and encode were
    two separate ArrowEvalPython corpus passes feeding a
    broadcast-join + a third per-candidate ADC pass + a
    dropDuplicates exchange): per Arrow batch, assign ``n_assign``
    clusters and encode codes in numpy, match rows against the
    driver-computed query probe sets (the broadcast join as a
    closure constant — queries are the bounded side by contract),
    ADC-score each matching (row, query) pair exactly once (so the
    multi-assign dedup disappears by construction), and emit only
    the batch-local top-``rerank`` per query under the exact final
    order (adc DESC, neighbor id ASC) — lossless for the global
    ranking window. One ranking shuffle of ≤ Q·rerank triples per
    batch, then exact cosine re-rank of the surviving ids only. At
    100 TB the raw vectors cross the Python boundary once and the
    only ones re-read are the ≤ Q·rerank re-rank rows.
    """
    import numpy as np  # noqa: PLC0415

    train_cap = max(10_000, 39 * max(ks, n_centroids))
    sample = _training_sample(
        corpus, id_col, vec_col, sample_mod, train_cap, cache_key
    )
    cent = _cached_train(
        "ivf",
        lambda: kmeans_centroids(sample, n_centroids, seed=seed),
        cache_key,
        id_col,
        vec_col,
        sample_mod,
        train_cap,
        n_centroids,
        seed,
    )
    books = _cached_train(
        "pq",
        lambda: train_pq_codebooks(sample, m, ks, seed=seed),
        cache_key,
        id_col,
        vec_col,
        sample_mod,
        train_cap,
        m,
        ks,
        seed,
    )

    # ONE fused corpus pass (r12). Replaces: assign(ArrowEvalPython)
    # → explode → encode(ArrowEvalPython) → broadcast-join with the
    # exploded query probes → per-candidate adc(ArrowEvalPython) →
    # dropDuplicates exchange → ranking window. The probe match runs
    # against a closure-held (Q × n_centroids) boolean table — the
    # broadcast join in constant form (queries are the bounded side
    # by contract); each (row, query) pair is scored exactly once, so
    # the multi-assign duplicate never exists; batch-local pruning
    # keeps only the top-``rerank`` per query under the EXACT global
    # order (adc DESC, neighbor id ASC — np.lexsort), lossless for
    # the ranking window that follows.
    cent_np = np.asarray(cent, dtype=np.float64)
    qrows = queries.select(query_id_col, query_vec_col).collect()
    nq = len(qrows)
    q_mat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # int64 query ids are the contract (as for pq_cosine_topk): the
    # fused kernel emits the id through the hardcoded `long` output
    # schema below (ADVICE r12 — documented constraint, not a bug)
    q_ids_np = np.asarray([r[0] for r in qrows], dtype=np.int64)
    if nq:
        # query probe clusters, driver-side — bit-identical math to
        # _ivf_assign_udf (normalize with zero guard, stable argsort)
        qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
        qm = q_mat / np.where(qn == 0, 1.0, qn)
        qorder = np.argsort(-(qm @ cent_np.T), axis=1, kind="stable")
        probe_mask = np.zeros((nq, len(cent)), dtype=np.uint8)
        probe_mask[
            np.arange(nq)[:, None], qorder[:, :n_probe]
        ] = 1
    books_np = [np.asarray(b, dtype=np.float64) for b in books]
    dsub = books_np[0].shape[1]
    books_norm2 = [(b**2).sum(1)[None, :] for b in books_np]
    # per-query (m, ks) ADC lookup tables; norms exactly as before
    # (scalar np.linalg.norm per query — not the axis form, whose
    # reduction can differ in the last ULP)
    luts = [
        np.stack(
            [
                q_mat[i, s * dsub : (s + 1) * dsub] @ books_np[s].T
                for s in range(m)
            ],
            axis=0,
        )
        for i in range(nq)
    ]
    norm_lut = np.stack([(b**2).sum(1) for b in books_np], axis=0)
    q_norms = [float(np.linalg.norm(q_mat[i])) for i in range(nq)]
    idx_all = np.arange(m)

    out_schema = f"{query_id_col} long, neighbor_id long, adc double"

    def fused_scan(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf) or not nq:
                continue
            ids = pdf[id_col].to_numpy()
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            n = len(ids)
            # n_assign-way spilled assignment (FAISS-style, same math
            # as _ivf_assign_udf): a true neighbor is found if ANY of
            # its clusters is probed
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            xm = x / np.where(norms == 0, 1.0, norms)
            order = np.argsort(-(xm @ cent_np.T), axis=1, kind="stable")
            row_mask = np.zeros((n, len(cent)), dtype=np.uint8)
            row_mask[np.arange(n)[:, None], order[:, :n_assign]] = 1
            # widen before the matmul (ADVICE r12): a uint8 @ uint8
            # product stays uint8, so with n_probe/n_assign/n_centroids
            # all >= 256 the overlap count could wrap mod 256 to 0 and
            # silently drop true candidates — unreachable at current
            # defaults (n_centroids=8) but a latent trap
            cand = (
                probe_mask.astype(np.int32) @ row_mask.T.astype(np.int32)
            ) > 0  # (Q, n)
            # PQ encode — the same one-matmul expansion as pq_cosine_topk
            codes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d2 = -2.0 * (xs @ books_np[s].T) + books_norm2[s]
                codes[:, s] = d2.argmin(1)
            approx_sq = norm_lut[idx_all[None, :], codes].sum(1)
            approx_n = np.sqrt(approx_sq)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                mask = cand[qi] & (ids != q_ids_np[qi])
                if not mask.any():
                    continue
                cn = ids[mask]
                dots = luts[qi][idx_all[None, :], codes[mask]].sum(1)
                denom = q_norms[qi] * approx_n[mask]
                with np.errstate(divide="ignore", invalid="ignore"):
                    adc = np.where(denom > 0, dots / denom, -np.inf)
                sel = np.lexsort((cn, -adc))[:rerank]
                out_q.append(np.full(len(sel), q_ids_np[qi]))
                out_n.append(cn[sel])
                out_s.append(adc[sel])
            if out_q:
                yield pd.DataFrame(
                    {
                        query_id_col: np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adc": np.concatenate(out_s),
                    }
                )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        fused_scan, schema=out_schema
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    shortlist = (
        partial.withColumn("__rn", F.row_number().over(w_adc))
        .filter(F.col("__rn") <= rerank)
        .select(query_id_col, "neighbor_id")
    )
    withvecs = (
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col)
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
    )
    sim = pair_cosine(F.col(query_vec_col), F.col(vec_col), round_to)
    pairs = withvecs.select(
        query_id_col, "neighbor_id", sim.alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Nearest-centroid (Rocchio) classifier over embeddings
# ---------------------------------------------------------------------------


def nearest_centroid_classify(
    train: DataFrame,
    test: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    """Classify test vectors by cosine-nearest per-label train centroid.

    The classical Rocchio / nearest-class-mean classifier. Unlike an
    iteratively-trained model, every step is exactly SQL-replayable,
    so the whole train+predict pipeline sits under the driver's
    value-hash oracle gate. (On the synthetic corpus the labels are
    uncorrelated with embedding geometry — holdout accuracy is at
    the 1/n_labels random floor, as is 1-NN's; the oracle therefore
    gates the *mechanics* value-exactly, and learnability is proven
    separately in pytest on planted separable clusters.)

    Determinism discipline (the label_centroids pattern): components
    are dround(4)-fixed BEFORE every cross-engine sum; centroid means
    are dround(2)-fixed sums over exact counts; dot/norm terms are
    dround(6)-fixed before their folds; the final cosine is
    dround(round_to)-fixed with (score DESC, label ASC) tie-break.

    Scale shape: training shuffles (label x dim) partial sums — map-
    side combined, dims x labels reducers, no hot key. The fitted
    model (10 x 64 doubles) broadcasts back as a constant-key
    BroadcastHashJoin (a bare crossJoin would plan BNLJ), and
    inference is a per-row sequential array fold inside codegen — at
    100 TB the scoring pass is embarrassingly parallel with no
    exchange at all.
    """
    from yahoofinancedatalake_spark.functions.scalars import dround

    comp = train.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x0"),
    ).select("label", "pos", dround(F.col("x0"), 4).alias("x"))
    cent_rows = comp.groupBy("label", "pos").agg(
        (dround(F.sum("x"), 2) / F.count(F.lit(1))).alias("c")
    )
    cent = (
        cent_rows.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("carr")
        )
        .withColumn(
            "nc",
            F.aggregate(
                F.transform(F.col("carr"), lambda c: dround(c * c, 6)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        # data-derived constant key (queries/pack._const_key pattern):
        # a literal key constant-folds the equi-condition away and the
        # join degenerates to BroadcastNestedLoopJoin
        .withColumn("__k", F.pmod(F.xxhash64("label"), F.lit(1)).cast("int"))
    )

    t = test.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("actual"),
        F.transform(_as_double(F.col(vec_col)), lambda x: dround(x, 4)).alias(
            "tv"
        ),
    ).withColumn(
        "nt",
        F.aggregate(
            F.transform(F.col("tv"), lambda x: dround(x * x, 6)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    ).withColumn("__k", F.pmod(F.xxhash64("vec_id"), F.lit(1)).cast("int"))

    joined = t.join(F.broadcast(cent), "__k")
    dotv = F.aggregate(
        F.zip_with(F.col("tv"), F.col("carr"), lambda x, c: dround(x * c, 6)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        "vec_id",
        "actual",
        "label",
        dround(dotv / F.sqrt(F.col("nt") * F.col("nc")), round_to).alias(
            "score"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc_nulls_last(), F.col("label").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "vec_id",
            F.col("actual").alias("label"),
            F.col("label").alias("pred_label"),
            "score",
        )
    )


def kmeans_lloyd_rounds(
    vectors: DataFrame,
    k: int = 5,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``rounds`` fully-distributed Lloyd iterations, exactly
    SQL-replayable — the iterative-algorithm pattern under the
    value-hash oracle gate (contrast: :func:`kmeans_centroids` trains
    driver-side on a capped sample for the IVF index, the FAISS
    placement; THIS runs the assignment and update steps as
    DataFrame ops, the shape a 100 TB full-corpus refinement pass
    uses).

    Deterministic throughout: init centroids are the ``k`` smallest
    ids' vectors; components dround(4)-fixed; squared-L2 terms
    dround(6)-fixed before their group sum; distances dround(4)-fixed
    with a cluster-id tie-break before the argmin; centroid updates
    are dround(2)-fixed sums over exact counts (the label_centroids
    discipline). Per round: one (vec, cluster) distance aggregation
    (comp ⋈ broadcast centroids on pos) and one (cluster, pos) mean
    fed by a plain vid-key shuffle join against the assignment (the
    assignment is corpus-sized — never broadcast) — both aggregations
    map-side combined, no driver collect anywhere.

    Returns the post-``rounds`` centroid table:
    (cluster, pos, centroid, n_members).
    """
    from pyspark.sql import Window as W
    from yahoofinancedatalake_spark.functions.scalars import dround

    # materialized: every round's distance AND update join re-reads
    # this byte-identical table — inline, the scan+posexplode subtree
    # re-executes 2*rounds+1 times (r5 review finding). Small: N x dim
    # narrow rows.
    comp = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos0", "x0"),
    ).select(
        "vid", (F.col("pos0") + 1).alias("pos"), dround(F.col("x0"), 4).alias("x")
    ).transform(stage_boundary)

    # DISTINCT mirrors the oracle's seeds CTE (duplicate ids must not
    # seed two clusters); orderBy().limit(k) plans as a distributed
    # TakeOrdered — the row_number window then ranks only k rows
    # (a global unpartitioned window over all N ids would funnel
    # every id through one task).
    seeds = (
        vectors.select(F.col(id_col).alias("vid"))
        .distinct()
        .orderBy(F.col("vid").asc())
        .limit(k)
        .withColumn("__rn", F.row_number().over(W.orderBy(F.col("vid").asc())))
        .select("vid", (F.col("__rn") - 1).alias("cluster"))
    )
    cent = (
        comp.join(F.broadcast(seeds), "vid")
        .select(
            "cluster",
            "pos",
            F.col("x").alias("c"),
            F.lit(0).cast("long").alias("n_members"),  # rounds=0 parity
        )
    )

    for _ in range(rounds):
        dists = (
            comp.join(F.broadcast(cent.drop("n_members")), "pos")
            .groupBy("vid", "cluster")
            .agg(
                F.sum(
                    dround((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")), 6)
                ).alias("d_raw")
            )
            .select("vid", "cluster", dround(F.col("d_raw"), 4).alias("d"))
        )
        aw = W.partitionBy("vid").orderBy(
            F.col("d").asc(), F.col("cluster").asc()
        )
        assign = (
            dists.withColumn("__rn", F.row_number().over(aw))
            .filter(F.col("__rn") == 1)
            .select("vid", "cluster")
        )
        # plain shuffle join: assign is one row per corpus vector —
        # broadcasting it would collect the whole corpus's assignment
        # to the driver (r5 review finding; the 8 GB broadcast cap
        # and driver memory both break at full-corpus scale). Only
        # the k x dim centroid table is broadcast-sized.
        cent = (
            comp.join(assign, "vid")
            .groupBy("cluster", "pos")
            .agg(
                (dround(F.sum("x"), 2) / F.count(F.lit(1))).alias("c"),
                F.count(F.lit(1)).alias("n_members"),
            )
            # eager localCheckpoint per round: bounds the otherwise
            # rounds-deep lineage (the connected_components
            # convention)
            .transform(stage_boundary)
        )
    return cent.select(
        "cluster", "pos", F.col("c").alias("centroid"), "n_members"
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment of every vector against a
    ``(cluster, pos, centroid)`` table — the standalone form of the
    assignment step inside :func:`kmeans_lloyd_rounds`, with the
    identical determinism discipline (components dround(4), squared
    terms dround(6) before the group sum, distances dround(4) with a
    cluster-id tie-break) so a SQL oracle replays it exactly.

    Plan: centroid table broadcasts (k x dim values), one
    (vid, cluster) map-side-combined distance aggregation, one
    per-vid argmin window — never a corpus broadcast.

    Returns (vid, cluster).
    """
    from pyspark.sql import Window as W
    from yahoofinancedatalake_spark.functions.scalars import dround

    comp = vectors.select(
        F.col(id_col).alias("vid"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos0", "x0"),
    ).select(
        "vid",
        (F.col("pos0") + 1).alias("pos"),
        dround(F.col("x0"), 4).alias("x"),
    )
    cent = centroids.select(
        "cluster", "pos", F.col("centroid").alias("c")
    )
    dists = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vid", "cluster")
        .agg(
            F.sum(
                dround(
                    (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")), 6
                )
            ).alias("d_raw")
        )
        .select("vid", "cluster", dround(F.col("d_raw"), 4).alias("d"))
    )
    aw = W.partitionBy("vid").orderBy(F.col("d").asc(), F.col("cluster").asc())
    return (
        dists.withColumn("__rn", F.row_number().over(aw))
        .filter(F.col("__rn") == 1)
        .select("vid", "cluster")
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 8,
    rounds: int = 1,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with k-means, then
    find near-duplicate pairs ONLY within each cluster (exact cosine
    >= ``threshold``) and keep one representative per duplicate
    relation — the clustering turns the quadratic all-pairs problem
    into per-cluster blocks, the same blocking role LSH bands play in
    the MinHash ladder but driven by learned structure.

    Duplicate rule (deterministic): a vector is a duplicate iff some
    SMALLER-id vector in its cluster has cosine >= threshold with it
    ("keep first"); survivors have no smaller-id near-neighbor. This
    replaces the paper's centroid-distance representative choice with
    an id tie-break so a SQL oracle can replay the decision exactly.

    Scale: the within-cluster self-join is O(sum cluster_size^2) —
    the paper's own deployment bounds it by scaling k with the corpus
    (they run k ~ 11k on LAION so clusters stay ~1e4); at 100 TB pick
    k ~ N/10k and bucket the clustered table by cluster id so the
    self-join is co-partitioned. The pair cosine runs on candidate
    pairs only, JVM-side (codegen'd dot-fold over per-MEMBER
    precomputed norms — the quadratic piece never crosses Arrow),
    and the embedding payload rides the cluster shuffle once.

    Returns one row per cluster:
    (cluster, n_members, n_dups, n_survivors, survivor_id_sum).
    """
    cent = kmeans_lloyd_rounds(
        vectors, k=k, rounds=rounds, id_col=id_col, vec_col=vec_col
    )
    assign = assign_to_centroids(
        vectors, cent, id_col=id_col, vec_col=vec_col
    )
    clustered = vectors.select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("v"),
    ).join(assign, "vid")
    return _cosine_dup_rollup(clustered, threshold)


def _cosine_dup_rollup(clustered: DataFrame, threshold: float) -> DataFrame:
    """The backend-independent second half of SemDeDup: within-cluster
    exact-cosine pairs >= ``threshold`` → keep-first (smaller-id)
    survivor rule → per-cluster rollup. ``clustered`` is
    (vid, v array<double>, cluster); returns
    (cluster, n_members, n_dups, n_survivors, survivor_id_sum)."""
    from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

    clustered = (
        clustered
        # norm once per MEMBER, not once per pair — the self-join
        # squares the row count, so per-pair norms would recompute
        # each vector's norm ~cluster_size times
        .withColumn("n", l2_norm(F.col("v")))
        # persisted: both sides of the pair self-join and the final
        # per-cluster rollup re-read this table
        .persist()
    )
    a = clustered.select(
        "cluster",
        F.col("vid").alias("id_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = clustered.select(
        "cluster",
        F.col("vid").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
    # JVM-side codegen'd cosine (dot/zip_with fold) — the candidate
    # volume is the quadratic piece, so keeping it out of Arrow
    # transfer matters more than numpy's per-row speed
    cos = dround(
        dot(F.col("va"), F.col("vb"))
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        4,
    )
    dups = (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= F.lit(threshold))
        .select("id_b")
        .distinct()
        .withColumnRenamed("id_b", "dup_id")
    )
    out = (
        clustered.join(
            dups, clustered.vid == F.col("dup_id"), "left"
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("dup_id").alias("n_dups"),
            F.count(F.when(F.col("dup_id").isNull(), 1)).alias(
                "n_survivors"
            ),
            F.sum(
                F.when(F.col("dup_id").isNull(), F.col("vid")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("survivor_id_sum"),
        )
        .orderBy("cluster")
    )
    try:
        # materialized before the build table the plan reads is released
        return stage_boundary(out)
    finally:
        clustered.unpersist()


def auto_semdedup_k(n: int) -> int:
    """SemDeDup's own posture for choosing k: scale it with the corpus
    so cluster sizes stay bounded (~600 members here; the paper runs
    k ≈ 11k on LAION so clusters stay ~1e4). At the sf0.1 gate scale
    (2 000 embeddings) this yields 8 — exactly the oracle-pinned k of
    the ``semantic_dedup`` query — so the scaled mode and the gated
    mode coincide at the operating point the oracle replays."""
    import math  # noqa: PLC0415

    return max(8, math.ceil(n / 600))


def semantic_dedup_scaled(
    vectors: DataFrame,
    k: int | None = None,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 16384,
    iters: int = 10,
    seed: int = 11,
) -> DataFrame:
    """Corpus-scaled SemDeDup (VERDICT r9 #5) — the same operator as
    :func:`semantic_dedup` with the clustering stage swapped to the
    production-scale placement so ``k`` can grow with the corpus:

    - ``k=None`` derives k from the corpus count via
      :func:`auto_semdedup_k` (the paper's posture; a fixed k=8 at
      100× the corpus makes every cluster 100× with quadratic
      within-cluster pairs — the configuration the gated query's own
      docstring rules out at scale).
    - Training is the FAISS placement :func:`kmeans_centroids` (a
      capped, deterministic smallest-ids sample fit driver-side —
      FAISS trains IVF on ~max(10k, 39·k) points regardless of corpus
      size), NOT the fully-distributed SQL-replayable
      :func:`kmeans_lloyd_rounds`, whose per-round
      (comp ⋈ centroids-on-pos) join materializes N·dim·k rows —
      4.3 B at the 100× sweep point (k=334, dim=64).
    - Assignment is the vectorized batch matmul
      (:func:`_ivf_assign_udf` with n_probe=1): one Arrow batch in,
      one argmax over the broadcast centroid matrix out.

    The within-cluster exact-cosine keep-first stage and the rollup
    are byte-identical to :func:`semantic_dedup`
    (:func:`_cosine_dup_rollup`), so within-cluster pair cost stays
    sum(cluster_size²) — bounded when k scales with N. Deterministic
    (fixed seed/sample/iteration count + stable argsort ties) but not
    SQL-oracle-replayable (numpy float ops); the oracle-gated mode
    remains ``semantic_dedup`` at the pinned k. Output schema is the
    same per-cluster rollup.
    """
    if k is None:
        k = auto_semdedup_k(vectors.count())
    sample = [
        r["v"]
        for r in vectors.select(
            F.col(id_col).alias("vid"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        .orderBy("vid")
        .limit(sample_cap)
        .collect()
    ]
    cent = kmeans_centroids(sample, k=k, iters=iters, seed=seed)
    assign = _ivf_assign_udf(cent, 1)
    clustered = vectors.select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("cluster", assign(F.col("v")).getItem(0))
    return _cosine_dup_rollup(clustered, threshold)


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k_candidates: int = 20,
    k_select: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): after exact top-``k_candidates`` retrieval,
    greedily select ``k_select`` results maximizing
    ``lam * rel(c) - (1 - lam) * max_{s in S} cos(c, s)`` — relevance
    traded against redundancy with the already-selected set. The
    retrieval-side diversity twin of :func:`semantic_dedup` (there:
    drop near-dups from the corpus; here: keep them out of one
    result list).

    Deterministic and SQL-replayable: relevance is the dround(4)
    brute-force cosine, pair similarities dround(4) before the max,
    scores dround(4), argmax tie-broken by neighbor id — the
    k_select greedy rounds unroll into one SQL CTE chain exactly
    like the Lloyd rounds.

    Scale: the iteration state is k_select rows per query (plus the
    k_candidates candidate pool) — broadcast-sized by construction;
    the corpus is touched only by the initial retrieval. Each round
    is one anti-join + one (query, candidate) max-aggregation over
    at most k_candidates * k_select pairs per query, JVM-side
    (dot/l2_norm expressions, no Python). localCheckpoint per round
    bounds the unrolled lineage (the kmeans convention).

    Returns (query_id, rank, selected_id, score).
    """
    from yahoofinancedatalake_spark.functions.scalars import dround

    cand = brute_force_cosine_topk(
        queries, corpus, k=k_candidates, id_col=id_col, vec_col=vec_col
    )
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    # tiny (n_queries x k_candidates rows); eager checkpoint so the
    # corpus-wide retrieval doesn't re-execute every greedy round
    cand = (
        cand.join(vecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("cosine").alias("rel"),
            "__v",
            "__n",
        )
        .transform(stage_boundary)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    sel = (
        cand.withColumn("score", dround(F.lit(lam) * F.col("rel"), 4))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            "neighbor_id",
            F.lit(1).alias("rank"),
            "score",
            "__v",
            "__n",
        )
    )
    for r in range(2, k_select + 1):
        rem = cand.join(
            sel.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        pairs = rem.join(
            sel.select(
                "query_id",
                F.col("__v").alias("__sv"),
                F.col("__n").alias("__sn"),
            ),
            "query_id",
        )
        paircos = dround(
            dot(F.col("__v"), F.col("__sv"))
            / F.nullif(F.col("__n") * F.col("__sn"), F.lit(0.0)),
            4,
        )
        m = (
            pairs.withColumn("__pc", paircos)
            .groupBy("query_id", "neighbor_id", "rel")
            .agg(F.max("__pc").alias("maxsim"))
            .withColumn(
                "score",
                dround(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("maxsim"),
                    4,
                ),
            )
        )
        pick = (
            m.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("query_id", "neighbor_id", "score")
            .join(
                cand.select("query_id", "neighbor_id", "__v", "__n"),
                ["query_id", "neighbor_id"],
            )
            .select(
                "query_id",
                "neighbor_id",
                F.lit(r).alias("rank"),
                "score",
                "__v",
                "__n",
            )
        )
        sel = sel.unionByName(pick).transform(stage_boundary)
    return sel.select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("selected_id"),
        "score",
    ).orderBy("query_id", "rank")
