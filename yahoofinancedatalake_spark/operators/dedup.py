"""Deduplication operators (beyond-parity extension, SURVEY.md §7.8).

The reference dedups news articles by exact id with a Python set at
ingestion (finnhub_news.py:185-188). A 100 TB training-data pipeline
needs the full ladder, all expressed as shuffle-lean DataFrame plans:

- :func:`exact_dedup` — hash-groupBy on a normalized fingerprint.
- :func:`minhash_lsh_pairs` — shingle → minhash → band → bucket-join
  candidate pairs (near-duplicate detection, one shuffle on the
  band-bucket key instead of an O(n²) crossJoin).
- :func:`simhash_near_dup_pairs` — 64-bit fingerprint + pigeonhole /
  1-bit-multi-probe blocking; near-dups have small Hamming distance.
- :func:`ngram_jaccard` / :func:`hashed_ngram_jaccard` — exact
  Jaccard on shingle sets for a candidate pair table (the verify step
  after LSH).
- :func:`verified_near_dup_pairs` → :func:`connected_components` —
  the one near-dup closure every dedup consumer shares: LSH
  candidates, touched-doc Jaccard verify, then components whose
  min-id member is the keeper. A batch run is an increment against
  an empty history.

Hot-path design: per-shingle work never runs as Spark higher-order-
function lambdas (those evaluate interpreted, no whole-stage codegen
— measured ~100x slower than the numpy kernel on the same data) and
never builds shingle *strings* at all. Each signature is one
Arrow-batched ``pandas_udf`` over the normalized text: C-speed
whitespace split, one vectorized siphash pass over the flattened
token array (``pandas.util.hash_array`` with its fixed default key —
process-independent), then rotate/xor window combining + fmix64
finalization in numpy. Everything downstream (banding, bucket joins,
verify) is JVM codegen over compact ``bigint`` arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.functions.scalars import dround
from yahoofinancedatalake_spark.session import stage_boundary

# Mersenne prime permutation family for minhash: h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31 - 1 keeps a_i * x + b_i < 2^62 — exact in uint64 arithmetic.
_MERSENNE = (1 << 31) - 1

#: Per-position bit rotations for the n-gram window combine (n <= 5).
_ROT = (21, 43, 7, 53, 31)
_U64 = np.uint64
_FMIX1 = _U64(0xFF51AFD7ED558CCD)
_FMIX2 = _U64(0xC4CEB9FE1A85EC53)


def normalized_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical dedup form."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-content fingerprint.

    Plan: project fingerprint → hash-aggregate min(id). One shuffle on
    the fingerprint; with AQE the reduce side sizes itself. This is
    the exact-dedup plan that survives 100 TB (the fingerprint is 16
    bytes, not the document).
    """
    fp = F.md5(normalized_text(F.col(text_col)))
    keep = (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) from raw text, as strings.

    Interpreted-HOF construction — used only where the *string* form
    is semantically required (the DuckDB-checkable Jaccard kernel,
    :func:`ngram_jaccard`); the dedup hot paths use the hashed twin
    :func:`gram_hashes` instead.
    """
    toks = F.filter(
        F.split(normalized_text(col), " "), lambda t: t != ""
    )
    count = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.when(count >= n, F.array_distinct(grams)).otherwise(
        F.when(count > 0, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array().cast("array<string>")
        )
    )


# ---------------------------------------------------------------------------
# Vectorized gram hashing (shared by minhash + simhash + hashed verify)
# ---------------------------------------------------------------------------


def _rotl64(x: np.ndarray, k: int) -> np.ndarray:
    k = _U64(k)
    return (x << k) | (x >> (_U64(64) - k))


def _fmix64(x: np.ndarray) -> np.ndarray:
    """Murmur3 finalizer — breaks the GF(2)-linearity of the
    rotate/xor combine so every output bit mixes every input bit
    (simhash votes read the bits directly)."""
    x = x.copy()
    x ^= x >> _U64(33)
    x *= _FMIX1
    x ^= x >> _U64(33)
    x *= _FMIX2
    x ^= x >> _U64(33)
    return x


def _gram_hash_arrays(texts: pd.Series, n: int) -> list:
    """Per text: np.unique'd uint64 hashes of its word ``n``-grams
    (whole-text gram when 0 < n_tokens < n — mirroring
    :func:`shingles`), or None for empty/whitespace-only/null text.

    One C-speed split + ONE vectorized siphash over the flattened
    token array for the whole Arrow batch; the window combine is
    ``xor`` of per-position bit-rotations + fmix64 — numpy-
    vectorized, position-sensitive ("a b" ≠ "b a").
    """
    if n > len(_ROT):
        raise ValueError(f"shingle_n must be <= {len(_ROT)}, got {n}")
    tok = texts.str.split()
    lens = np.array(
        [len(t) if isinstance(t, list) else 0 for t in tok], dtype=np.int64
    )
    if lens.sum() == 0:
        return [None] * len(texts)
    flat = np.array(
        [w for t in tok if isinstance(t, list) for w in t], dtype=object
    )
    h = pd.util.hash_array(flat)  # uint64, fixed key → deterministic
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    out = []
    for i, length in enumerate(lens):
        if length == 0:
            out.append(None)
            continue
        hs = h[offs[i]: offs[i + 1]]
        if length >= n:
            g = np.zeros(length - n + 1, dtype=_U64)
            for j in range(n):
                g ^= _rotl64(hs[j: length - n + 1 + j], _ROT[j])
        else:  # short doc → single whole-text gram
            acc = _U64(0)
            for j in range(length):
                acc ^= _rotl64(hs[j: j + 1], _ROT[j])[0]
            g = np.array([acc], dtype=_U64)
        out.append(np.unique(_fmix64(g)))
    return out


def gram_hashes(col: Column, shingle_n: int = 3) -> Column:
    """``array<bigint>`` of distinct hashed word n-grams of ``col``
    (null for empty text) — the hashed twin of :func:`shingles`.
    Shingle equality ⇔ hash equality modulo ~2⁻⁶⁴ collisions, so set
    algebra (Jaccard) over these arrays equals the string form."""

    def _f(texts):
        return pd.Series(
            [
                None if g is None else g.view(np.int64)
                for g in _gram_hash_arrays(texts, shingle_n)
            ]
        )

    _f.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_f, "array<bigint>")(normalized_text(col))


def _minhash_coeffs(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random  # noqa: PLC0415

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(n_hashes)
    ]


def minhash_signature(
    col: Column, n_hashes: int = 32, seed: int = 42, shingle_n: int = 3
) -> Column:
    """Minhash signature of the text's gram-hash set: per permutation
    i, ``min over grams of (a_i * (g mod p) + b_i) mod p``. Null for
    empty text (callers filter before banding). One Arrow-batched
    numpy kernel — ``((a*g + b) % p).min(axis=1)`` is microseconds
    per document; matches the pure-Python reference in
    ``tests/dedup_refs.py`` bit-for-bit.
    """
    coeffs = _minhash_coeffs(n_hashes, seed)
    a = np.array([c[0] for c in coeffs], dtype=_U64)[:, None]
    b = np.array([c[1] for c in coeffs], dtype=_U64)[:, None]
    p = _U64(_MERSENNE)

    def _sig(texts):
        out = []
        for g in _gram_hash_arrays(texts, shingle_n):
            if g is None:
                out.append(None)
                continue
            gm = g % p
            out.append(
                ((a * gm[None, :] + b) % p).min(axis=1).astype(np.int64)
            )
        return pd.Series(out)

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_sig, "array<bigint>")(normalized_text(col))


def simhash64(col: Column, shingle_n: int = 2) -> Column:
    """64-bit SimHash over the text's distinct word shingles: per bit,
    majority vote of the gram-hash bits; near-duplicate texts differ
    in few bits (compare with :func:`hamming64`). Null for empty text.
    Same one-UDF vectorized pipeline as :func:`minhash_signature`;
    matches the pure-Python reference in ``tests/dedup_refs.py``
    bit-for-bit."""
    shifts = np.arange(64, dtype=_U64)

    def _fp(texts):
        out = []
        for g in _gram_hash_arrays(texts, shingle_n):
            if g is None:
                out.append(None)
                continue
            ones = ((g[:, None] >> shifts[None, :]) & _U64(1)).sum(axis=0)
            bits = (2 * ones > len(g)).astype(_U64)
            val = np.bitwise_or.reduce(bits << shifts)
            out.append(int(np.array([val], dtype=_U64).view(np.int64)[0]))
        return pd.Series(out, dtype="object")

    _fp.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_fp, "bigint")(normalized_text(col))


# ---------------------------------------------------------------------------
# MinHash-LSH banding
# ---------------------------------------------------------------------------


def minhash_band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH index: one (id, band, bucket) row per band
    per doc. Land this table (bucketed by ``bucket``) and incremental
    dedup never re-shingles history — see
    :func:`minhash_lsh_pairs`' ``index``. Null signatures (empty docs)
    are dropped here, once, for every consumer."""
    rows_per_band = n_hashes // n_bands
    sig = minhash_signature(F.col(text_col), n_hashes, seed, shingle_n)
    signed = df.select(F.col(id_col), sig.alias("__sig")).filter(
        F.col("__sig").isNotNull()
    )
    return signed.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.array_join(
                                F.slice(
                                    "__sig",
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                ",",
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def capped_bucket_members(
    banded: DataFrame,
    id_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """(band, bucket) → bounded sorted member array + overflow count.

    A boilerplate-heavy corpus (license headers, templated pages)
    produces mega-buckets; an uncapped ``collect_list`` materializes
    the whole bucket in one aggregation buffer and the in-bucket pair
    explosion is O(m²) — a single-task OOM at 100 TB. Members are
    ranked by ``md5(id)`` (deterministic, content-independent) and
    only the first ``max_bucket_size`` survive into the pair
    generator; ``n_dropped`` reports the overflow per bucket so
    callers can log coverage loss. The rank window and the group-by
    share the (band, bucket) hash partitioning, so the cap costs a
    per-partition sort but no extra exchange; the window streams with
    a spillable sort instead of buffering the bucket like
    ``collect_list`` does.
    """
    return _capped_buckets(banded, id_col, max_bucket_size, F.col(id_col))


def _capped_buckets(
    banded: DataFrame, id_col: str, max_bucket_size: int, member: Column
) -> DataFrame:
    """:func:`capped_bucket_members` collecting ``member`` (the id, or
    a struct led by the id) for each of the first ``max_bucket_size``
    members in md5(id) order. Sorting the array sorts by id first, so
    the pair generator emits ``id_a < id_b``."""
    from pyspark.sql import Window  # noqa: PLC0415

    rk = F.row_number().over(
        Window.partitionBy("band", "bucket").orderBy(
            F.md5(F.col(id_col).cast("string")), id_col
        )
    )
    return (
        banded.withColumn("__rk", rk)
        .groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("__rk") <= max_bucket_size, member))
            ).alias("ids"),
            F.greatest(
                F.count(F.lit(1)) - max_bucket_size, F.lit(0)
            ).alias("n_dropped"),
        )
        .filter(F.size("ids") > 1)
    )


def _bucket_id_pairs(buckets: DataFrame) -> DataFrame:
    """Explode each bucket's sorted ``ids`` array into unique
    unordered (id_a, id_b) candidate pairs (index-based i<j, so each
    pair is emitted once per bucket; cross-bucket repeats are the
    caller's ``dropDuplicates``). The elements pass through as they
    are — ids, or the (id, new) structs of an increment. The simhash
    path keeps its own variant because its members carry probe flags
    and a hamming payload."""
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return buckets.select(F.explode(pair_structs).alias("p")).select(
        "p.id_a", "p.id_b"
    )


def _lsh_candidates(
    new_bands: DataFrame,
    index: DataFrame | None,
    id_col: str,
    max_bucket_size: int,
    log_drops: bool = False,
) -> DataFrame:
    """The one MinHash-LSH candidate generator: the batch's band rows
    (:func:`minhash_band_table`) against a landed band ``index`` of
    history, ``None`` when there is no history.

    Emits every candidate pair with at least one batch endpoint. Only
    history rows in buckets the batch touches take part, and a history
    row whose id the batch carries again (a replayed batch) is dropped
    by an anti-join against the batch ids, so every id is a bucket
    member once and no degenerate (id, id) pair or doubled rank slot
    arises. The bucket cap ranks the union membership (history ∪
    batch) with :func:`capped_bucket_members`' md5 order — capping the
    sides independently would admit pairs a full run drops. Pair set
    == a full run over (history ∪ batch) minus old×old pairs.

    With no history the band rows feed the capped buckets directly, so
    the plan is the bucket-key shuffle plus the pair dedup and nothing
    else: group-by-bucket pair generation, never a self-join that
    would re-evaluate the scan→signature subtree on both sides.
    ``log_drops=True`` materializes the bucket table
    (:func:`stage_boundary`), counts the overflow on that same job
    with an ``Observation`` and logs it; the pair consumption then
    reads the materialized buckets.
    """
    banded, member = new_bands, F.col(id_col)
    if index is not None:
        touched = new_bands.select("band", "bucket").distinct()
        old = (
            index.join(touched, ["band", "bucket"])
            .join(new_bands.select(id_col), id_col, "left_anti")
            .select(id_col, "band", "bucket", F.lit(False).alias("__new"))
        )
        banded = new_bands.select(
            id_col, "band", "bucket", F.lit(True).alias("__new")
        ).unionByName(old)
        member = F.struct(
            F.col(id_col).alias("id"), F.col("__new").alias("new")
        )
    buckets = _capped_buckets(banded, id_col, max_bucket_size, member)
    if log_drops:
        import logging  # noqa: PLC0415

        drops = Observation()
        buckets = buckets.observe(
            drops, F.sum("n_dropped").alias("d")
        ).transform(stage_boundary)
        dropped = drops.get["d"]
        if dropped:
            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs: %d bucket members beyond "
                "max_bucket_size=%d dropped from pair generation",
                dropped,
                max_bucket_size,
            )
    pairs = _bucket_id_pairs(buckets)
    if index is not None:
        pairs = pairs.filter(F.col("id_a.new") | F.col("id_b.new")).select(
            F.col("id_a.id").alias("id_a"), F.col("id_b.id").alias("id_b")
        )
    return pairs.dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int = 512,
    log_drops: bool = False,
    bands: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding, for
    ``df`` against a landed band ``index`` of history (``None``, the
    default, is an empty history: the batch run).

    signature → split into bands → explode (band_id, band_hash) →
    group by the bucket key → emit member pairs. The only heavy
    exchange is the bucket-key shuffle; band width
    (n_hashes / n_bands) sets the similarity threshold
    ~ (1/n_bands)^(band_size⁻¹). Empty/whitespace-only documents
    (null signature) are dropped before banding, and buckets are
    capped at ``max_bucket_size`` members (see
    :func:`capped_bucket_members`); ``log_drops=True`` logs the
    overflow. Pair set and cap semantics: see :func:`_lsh_candidates`.

    With an ``index`` this is the daily-ingest shape: only ``df`` is
    shingled/hashed; history takes part through its landed
    (id, band, bucket) rows (:func:`minhash_band_table`), never its
    text — O(batch) hash + one (band, bucket) join against the index
    plus a rank window over only the touched buckets (with the index
    bucketed by ``bucket`` at write time the join is exchange-free on
    the history side). The caller appends the batch's band rows to the
    index afterward.

    ``bands`` supplies a precomputed :func:`minhash_band_table` frame
    for ``df`` (``n_hashes`` / ``n_bands`` / ``shingle_n`` / ``seed``
    are then ignored), so a caller that also lands the band table as
    an index pays the signature pass once.
    """
    if bands is None:
        bands = minhash_band_table(
            df, text_col, id_col, n_hashes, n_bands, shingle_n, seed
        )
    return _lsh_candidates(bands, index, id_col, max_bucket_size, log_drops)


# ---------------------------------------------------------------------------
# SimHash near-dup with pigeonhole / multi-probe blocking
# ---------------------------------------------------------------------------


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-duplicate pairs by SimHash with **exact recall at the
    stated radius**, blocking chosen by the radius:

    - ``max_hamming <= 4`` — pigeonhole chunks: the fingerprint splits
      into ``max_hamming + 1`` chunks (≥ 12 bits each); a pair within
      the radius must agree exactly on some chunk → equi-join on
      (chunk, value).
    - ``max_hamming >= 5`` — 1-bit multi-probe (HmSearch-style):
      ``ceil((max_hamming+1) / 2)`` wide chunks; within the radius
      some chunk differs by ≤ 1 bit (if every chunk differed by ≥ 2
      the total would exceed the radius), so each doc posts its exact
      chunk value plus all 1-bit flips, and candidates pair exact ×
      (exact ∪ probe). Wide chunks keep buckets sparse where narrow
      pigeonhole chunks (64/(h+1) bits) collapse into huge buckets —
      measured at sf0.1/h=9: 1.9M candidate pairs with 6-bit chunks
      vs ~0.2M with 13-bit chunks + probes, for 254 true pairs.

    Candidates are verified inline with the exact ``bit_count(xor)``
    distance (fingerprints ride in the bucket member structs — no
    re-join, signature UDF evaluated exactly once). Returns
    (id_a, id_b, hamming), id_a < id_b. The only exchanges are the
    bucket-key shuffle and the pair dedup — linear, no crossJoin.

    Empty/whitespace-only documents (null fingerprint) are dropped
    first — they would all pairwise collide and be reported as
    distance-0 "near-dups" of each other.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    multi_probe = max_hamming >= 5
    n_chunks = (max_hamming + 2) // 2 if multi_probe else max_hamming + 1
    # chunk i covers bits [offsets[i], offsets[i+1]) — widths differ by
    # at most 1 so the recall guarantee holds for every chunk
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    fp = df.select(
        F.col(id_col), simhash64(F.col(text_col), shingle_n).alias("__fp")
    ).filter(F.col("__fp").isNotNull())

    def _chunk_val(i: int) -> Column:
        # top chunk needs no mask (unsigned shift zero-fills)
        shifted = F.shiftrightunsigned("__fp", bounds[i])
        if bounds[i + 1] == 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))

    def _member(i: int, val: Column, exact: bool) -> Column:
        return F.struct(
            F.lit(i).alias("chunk"),
            val.alias("val"),
            F.lit(exact).alias("ex"),
        )

    posts = []
    for i in range(n_chunks):
        v = _chunk_val(i)
        posts.append(_member(i, v, True))
        if multi_probe:
            posts.extend(
                _member(i, v.bitwiseXOR(F.lit(1 << j)), False)
                for j in range(bounds[i + 1] - bounds[i])
            )
    banded = fp.withColumn("__c", F.explode(F.array(*posts))).select(
        id_col,
        "__fp",
        F.col("__c.chunk").alias("chunk"),
        F.col("__c.val").alias("val"),
        F.col("__c.ex").alias("ex"),
    )
    buckets = (
        banded.groupBy("chunk", "val")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), "__fp", "ex")
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    ms = F.col("members")
    # exact members pair with every other member; exact-exact pairs
    # only once (id order) — probe-probe pairs carry no guarantee and
    # are skipped
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x: F.transform(
                F.filter(
                    ms,
                    lambda y: x["ex"]
                    & (y["id"] != x["id"])
                    & (~y["ex"] | (x["id"] < y["id"])),
                ),
                lambda y: F.struct(
                    F.least(x["id"], y["id"]).alias("id_a"),
                    F.greatest(x["id"], y["id"]).alias("id_b"),
                    hamming64(x["__fp"], y["__fp"]).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count(xor))."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Jaccard verify kernels
# ---------------------------------------------------------------------------


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs, over
    *string* shingles (the ANSI-SQL-checkable form — the DuckDB
    oracle mirrors it with list algebra).

    ``pairs``: (id_a, id_b) — e.g. from :func:`minhash_lsh_pairs`.
    Joins the shingle arrays in (two hash joins on the id), then
    ``|∩| / |∪|`` via array built-ins. Jaccard runs only on
    candidates — never all pairs.
    """
    sh = docs.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    return _jaccard_join(pairs, sh, id_col)


def hashed_ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs over *hashed* shingles
    (:func:`gram_hashes`) — the hot-path twin of :func:`ngram_jaccard`.
    Set equality ⇔ hash-set equality modulo ~2⁻⁶⁴ collisions, so the
    value is the string-shingle Jaccard (the sf0.01 correctness gate
    checks it against DuckDB's string-based ground truth); the
    intersect/union run on compact bigint arrays instead of rebuilding
    every shingle string per side.
    """
    empty = F.array().cast("array<bigint>")
    sh = docs.select(
        F.col(id_col),
        F.coalesce(gram_hashes(F.col(text_col), shingle_n), empty).alias("sh"),
    )
    return _jaccard_join(pairs, sh, id_col)


def _jaccard_join(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            # raw IEEE quotient of two small ints — bit-identical on any
            # engine, no rounding needed (and round() is engine-divergent)
            (inter.cast("double") / F.greatest(union, F.lit(1))).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup closure: verified pairs → connected components
# ---------------------------------------------------------------------------

#: Near-dup verify threshold: a candidate pair is a near-dup when its
#: exact hashed-shingle Jaccard is at least this.
JACCARD_THRESHOLD = 0.9


def pair_docs(pairs: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """The rows of ``docs`` that some (id_a, id_b) pair touches. The
    endpoint-id set is pair-sized by design and broadcast, so the
    restriction costs no shuffle of the corpus side."""
    ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).dropDuplicates([id_col])
    return docs.join(F.broadcast(ids), id_col, "left_semi")


def verified_near_dup_pairs(
    batch: DataFrame,
    id_col: str = "doc_id",
    bands: DataFrame | None = None,
    index: DataFrame | None = None,
    survivors: DataFrame | None = None,
) -> DataFrame:
    """The one candidate → verify sequence: MinHash-LSH candidates of
    ``batch``'s ``text`` (32 hashes, 8 bands, 3-shingles) against the
    history band ``index`` → exact hashed-shingle Jaccard over the
    candidate-touched docs of ``survivors`` ∪ ``batch`` → the
    ``(id_a, id_b, jaccard)`` pairs at or above
    :data:`JACCARD_THRESHOLD`. ``index``/``survivors`` ``None`` is an
    empty history (the batch run); ``bands`` is the batch's
    precomputed :func:`minhash_band_table`.

    The candidates are materialized (:func:`stage_boundary`,
    candidate-sized by design) because the verify reads them twice,
    and shingle hashes are computed only for the docs a candidate
    touches (:func:`pair_docs`). The verify joins are inner on
    (id_a, id_b), so the restriction is result-invariant.
    """
    cand = minhash_lsh_pairs(
        batch, "text", id_col, bands=bands, index=index
    ).transform(stage_boundary)
    docs = batch.select(id_col, "text")
    if survivors is not None:
        docs = survivors.select(id_col, "text").unionByName(docs)
    return hashed_ngram_jaccard(
        cand, pair_docs(cand, docs, id_col), id_col, "text", shingle_n=3
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 64,
) -> DataFrame:
    """Connected components of the near-dup pair graph → dedup
    clusters: ``(node, component)`` with component = min node id in
    the cluster, for every node of ``pairs``. This is the step that
    turns verified pairs into a keep-list (keep ``node == component``,
    drop the rest) when near-duplication is transitive A~B~C.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), O(log n) steps on
    any diameter — a 300-link chain converges in 18 steps where
    min-label propagation needs 300 rounds. Each step is one
    group-by over the node's arcs: per node u with neighbourhood Γ(u)
    and m = min(Γ(u) ∪ {u}), a large step links every neighbour
    larger than u to m, a small step links u and every neighbour
    smaller than u to m. Neither changes the components (the paper's
    lemmas), and a node that only pairs with itself keeps a self arc.

    The grouped frame is the step's only materialization
    (:func:`stage_boundary`), and the convergence test rides it as an
    observed metric: a node is open when it has a smaller neighbour
    and more than one neighbour. No open node means the graph is a
    forest of stars centred at the component minima, and the step's
    m column is the answer — a graph that is already stars (the usual
    near-dup graph: pairs and small cliques) costs one group-by. So a
    step is one shuffle and one job pair, nothing reaches the driver
    but one count, and the shuffle width is the session's, left to
    AQE to coalesce.

    Raises ``RuntimeError`` when ``max_iter`` steps end with open
    nodes: partial labels would silently keep duplicates.
    """
    a, b = F.col(id_a), F.col(id_b)
    arcs = pairs.select(a.alias("src"), b.alias("dst")).unionByName(
        pairs.select(b.alias("src"), a.alias("dst"))
    )
    node = F.col("node")
    for step in range(max_iter):
        done = Observation()
        nbrs = (
            arcs.groupBy("src")
            .agg(F.collect_set("dst").alias("ns"))
            .select(
                F.col("src").alias("node"),
                F.array_remove("ns", F.col("src")).alias("ns"),
            )
            .withColumn("m", F.least(node, F.array_min("ns")))
            .observe(
                done,
                F.count_if(
                    (F.col("m") != node) & (F.size("ns") > 1)
                ).alias("open"),
            )
            .transform(stage_boundary)
        )
        if done.get["open"] == 0:
            return nbrs.select("node", F.col("m").alias("component"))
        if step % 2 == 0:  # large: an isolated node keeps a self arc
            linked = F.when(F.size("ns") == 0, F.array(node)).otherwise(
                F.filter("ns", lambda x: x > node)
            )
        else:
            linked = F.array_union(
                F.filter("ns", lambda x: x < node), F.array(node)
            )
        t = F.explode(linked).alias("t")
        arcs = nbrs.select("m", t).select(
            F.explode(
                F.array(
                    F.struct(F.col("t").alias("src"), F.col("m").alias("dst")),
                    F.struct(F.col("m").alias("src"), F.col("t").alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    raise RuntimeError(
        f"connected_components: not converged after max_iter={max_iter} "
        "steps"
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact all-pairs Jaccard >= ``threshold`` via PREFIX FILTERING
    (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo/Ma/Srikant "Scaling Up
    All Pairs Similarity Search", WWW'07) — the deterministic,
    loss-free alternative to MinHash banding in the dedup ladder:
    no hash-family miss probability, every qualifying pair found.

    Tokens (word-``shingle_n``-gram shingles) get a global total
    order by ascending document frequency (rarest first, token text
    tie-break). A document with m shingles keeps only its first
    ``L = m - ceil(t·m) + 1`` tokens in that order as its *prefix*.
    Theorem: J(a,b) >= t implies |a∩b| >= ceil(t·max(ma, mb)), so if
    the earliest shared token (in the global order) sat outside
    either document's prefix, the suffix could hold at most
    ``ceil(t·m) - 1`` shared tokens — contradiction. Hence every
    qualifying pair shares a token in BOTH prefixes, and a
    prefix-on-prefix equi-join generates a candidate superset;
    :func:`ngram_jaccard` then verifies exactly. Rare-first ordering
    makes prefixes touch the *least* frequent tokens, keeping posting
    lists (and the join fan-out) minimal.

    ``ceil(t·m)`` is computed in INTEGER arithmetic from
    ``Fraction(str(threshold))`` — an IEEE ``ceil(0.8 * 5)`` is 5,
    not 4, and a one-too-short prefix silently loses pairs.

    Scale: no crossJoin anywhere — the joins key on token, the
    per-doc prefix window is bounded by the doc's own shingle count,
    and candidate volume concentrates on rare tokens (df-ascending
    prefixes). At 100 TB add the standard length filter (a doc pairs
    only with lengths within [t·m, m/t]) by banding on
    ``floor(log(m)/log(1/t))`` — omitted here because the testdata's
    doc lengths are homogeneous.

    The hashed-shingle table and the prefix table are each read by
    2-3 branches, so both are persisted for the call, and the
    candidate pairs are materialized (:func:`stage_boundary`) before
    both are unpersisted: the returned frame holds no cached table.
    """
    from fractions import Fraction  # noqa: PLC0415

    from pyspark.sql import Window  # noqa: PLC0415

    frac = Fraction(str(threshold))
    if frac.denominator > 1_000_000:
        # floor to a <=10^6 denominator: a LOWER bound on t, so the
        # prefix gets (at most) longer and the filters (at most)
        # looser — lossless by monotonicity — while every integer
        # product below stays far from bigint overflow (a 16-digit
        # float denominator times a doc length would not, and the
        # previous double-division form of ceil(t*m) mis-rounded
        # exactly at integer quotients: review-caught at a threshold
        # equal to a pair's rational jaccard).
        import math  # noqa: PLC0415

        frac = Fraction(math.floor(frac * 1_000_000), 1_000_000)
    tn, td = frac.numerator, frac.denominator
    # Tokens are represented by their xxhash64 from the explode on:
    # every shuffle-heavy stage (df aggregation, df lookup, window
    # sort, the prefix self-join) moves an 8-byte key instead of a
    # ~25-byte shingle string (3.4s -> 2.7s measured at sf0.1, and
    # proportionally more shuffle bytes saved at scale). Losslessness
    # survives hash collisions UNCONDITIONALLY because the theorem
    # re-runs on the hash universe: the order key (df, g) is a
    # function of the hash alone, so sort ties only occur between
    # rows of the SAME hash (interchangeable for the hash-equi-join);
    # with m the per-doc ROW count, if the smallest shared hash class
    # g* had no row in a doc's prefix, the suffix (size ceil(t*m)-1)
    # would contain all >= |shared tokens| >= ceil(t*m) shared rows —
    # contradiction. So g* lands in BOTH prefixes and the hash join
    # emits the pair; colliding non-shared tokens merely add spurious
    # candidates, which the exact string-level ngram_jaccard verify
    # removes. The emitted candidate (pid, hash) SET is deterministic
    # (it depends only on the sorted hash multiset, not tie order).
    # persist() the hashed-shingle table: it feeds sz, dfreq, AND the
    # prefix build, and the prefix table feeds BOTH self-join sides —
    # without the cache the explode executes ~6x per query, several
    # branches CONCURRENTLY (event-log-measured: three simultaneous
    # 32-task explode stages whose combined allocation burst drove
    # 0.9-5.8s of task-attributed GC per stage and made this
    # 2.6-3.3s-warm query read 8-21s in roughly half of full-pack
    # runs). One cached copy = one scan, flat allocation, stable
    # wall-clock — and at 100 TB the shingle table is the thing a
    # PPJoin implementation materializes anyway.
    sh = (
        docs.select(
            F.col(id_col).alias("pid"),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("gs"),
        )
        .select("pid", F.xxhash64("gs").alias("g"))
        .persist()
    )
    sz = sh.groupBy("pid").agg(F.count(F.lit(1)).alias("m"))
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("pid").orderBy(
        F.col("df").asc(), F.col("g").asc()
    )
    # rn <= m - ceil(tn*m/td) + 1, in pure-multiply integer form
    # (ceil(p/q) <= u  <=>  p <= u*q): no division anywhere, so no
    # double rounding at integer quotients. rn == 1 keeps at least
    # one token per doc (the original greatest(..., 1)).
    pref = (
        sh.join(dfreq, "g")
        .join(sz, "pid")
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(
            (F.col("rn") == 1)
            | (
                F.lit(tn) * F.col("m")
                <= (F.col("m") - F.col("rn") + 1) * F.lit(td)
            )
        )
        .select("pid", "g", "m", "rn")
        .persist()  # referenced by both self-join sides
    )
    a = pref.select(
        F.col("pid").alias("id_a"),
        "g",
        F.col("m").alias("ma"),
        F.col("rn").alias("pa"),
    )
    b = pref.select(
        F.col("pid").alias("id_b"),
        "g",
        F.col("m").alias("mb"),
        F.col("rn").alias("pb"),
    )
    # PPJoin candidate reduction (Xiao/Wang/Lin/Yu WWW'08), both
    # filters LOSSLESS and integer-exact:
    # - length filter: J >= t forces t*max(ma,mb) <= min(ma,mb),
    #   i.e. tn*ma <= td*mb AND tn*mb <= td*ma;
    # - positional filter: at a shared token seen at (1-based,
    #   full-order) positions pa/pb, the overlap can be at most
    #   1 + min(ma-pa, mb-pb), and J >= t requires overlap
    #   alpha = ceil(t/(1+t) * (ma+mb)). A qualifying pair's FIRST
    #   shared token satisfies the bound, so filtering per match and
    #   de-duplicating keeps every qualifying pair. Measured at
    #   sf0.1 (5k docs): 118,649 raw prefix candidates -> the filters
    #   cut both the verify volume and the join output a qualifying
    #   superset of the 256 true pairs actually needs.
    # ubound >= alpha = ceil(tn*(ma+mb)/(tn+td)), multiply form:
    # ubound*(tn+td) >= tn*(ma+mb)
    ubound = F.lit(1) + F.least(
        F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb")
    )
    try:
        return (
            a.join(b, "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                (F.lit(tn) * F.col("ma") <= F.lit(td) * F.col("mb"))
                & (F.lit(tn) * F.col("mb") <= F.lit(td) * F.col("ma"))
            )
            .filter(
                ubound * F.lit(tn + td)
                >= F.lit(tn) * (F.col("ma") + F.col("mb"))
            )
            .select("id_a", "id_b")
            .distinct()
            .transform(stage_boundary)
        )
    finally:
        pref.unpersist()
        sh.unpersist()


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
# the MOSS local fingerprinting algorithm). Completes the fingerprint
# family: `exact_dedup` hashes the WHOLE normalized doc; winnowing
# selects a guaranteed-density subset of character k-gram hashes such
# that any shared substring of length >= k + w - 1 between two docs
# yields at least one shared fingerprint (the paper's correctness
# property), at expected density 2/(w+1). The reference dedups only by
# exact id (finnhub_news.py:185-188); this is the beyond-parity
# substring-level member of the ladder.
# ---------------------------------------------------------------------------


def _winnow_md5_arrays(texts: pd.Series, k: int, w: int) -> list:
    """Per (already normalized) text: the winnowed md5 fingerprint hex
    set as a list, FIRST-OCCURRENCE ordered — the Arrow-batched twin
    of the interpreted-HOF extraction it replaced (r12, guide §4.2),
    verified row-identical at every SF:

    - k-grams slice by CODE POINT, exactly Spark ``substring``
      semantics (ASCII fast path slices the UTF-8 bytes directly —
      identical boundaries — and multibyte text falls back to str
      slicing, which Python and UTF8String both count in code points);
    - md5 runs in C (hashlib) per gram — the JVM HOF form paid
      per-gram string+hex allocations that measured 1.9× over linear
      at the 100× sweep;
    - the window minimum is a monotonic-deque sliding min — O(m) with
      ~2 C-speed string comparisons per gram (digests are pure ASCII
      hex, so Python's string order == the JVM's UTF8 string order);
    - distinct keeps first occurrence (``array_distinct`` semantics)
      via ``dict.fromkeys``.

    Docs shorter than ``k`` chars hash the whole text; ≤ ``w`` grams
    collapse to the single global min; null text → ``[null]`` (what
    the HOF chain produced: md5(null) under a null length guard).
    """
    import hashlib  # noqa: PLC0415
    from collections import deque  # noqa: PLC0415

    md5 = hashlib.md5
    out = []
    for s in texts:
        if s is None:
            out.append([None])
            continue
        n = len(s)
        if n >= k:
            if s.isascii():
                b = s.encode("utf-8")
                mv = memoryview(b)
                hs = [
                    md5(mv[i : i + k]).hexdigest()
                    for i in range(n - k + 1)
                ]
            else:
                hs = [
                    md5(s[i : i + k].encode("utf-8")).hexdigest()
                    for i in range(n - k + 1)
                ]
        else:
            hs = [md5(s.encode("utf-8")).hexdigest()]
        if len(hs) > w:
            mins = []
            dq: deque = deque()  # indices; values strictly increasing
            for i, h in enumerate(hs):
                while dq and hs[dq[-1]] >= h:
                    dq.pop()
                dq.append(i)
                if dq[0] <= i - w:
                    dq.popleft()
                if i >= w - 1:
                    mins.append(hs[dq[0]])
            out.append(list(dict.fromkeys(mins)))
        else:
            out.append([min(hs)])
    return out


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    w: int = 8,
    *,
    pre_normalized: bool = False,
) -> DataFrame:
    """Per-doc winnowed fingerprint sets: (id_col, fps array<string>).

    Semantics (position-free variant): normalize text (lowercase +
    whitespace collapse), hash every character k-gram with md5, slide
    a window of ``w`` consecutive k-gram hashes, keep each window's
    MINIMUM hash, distinct per doc. Docs shorter than ``k`` chars get
    the single fingerprint md5(norm); docs with fewer than ``w``
    k-grams get one fingerprint (the global min). Emitting the hash
    VALUE rather than (hash, position) makes the output independent of
    the paper's rightmost-tie rule — a repeated k-gram inside one
    window selects the same value either way — so the operator is
    exactly reproducible on any engine with md5 (the DuckDB oracle
    recomputes it verbatim).

    Plan shape — deliberately the OPPOSITE tradeoff from the minhash
    signature kernel above: extraction is a per-row narrow map (an
    Arrow-batched kernel, :func:`_winnow_md5_arrays`), ZERO exchanges
    and no row explosion, where the explode+window-min alternative
    would shuffle a corpus-times-chars row table (one row per
    character position) just to run a size-w window — at 100 TB that
    exchange, not CPU, is the bottleneck. Normalization stays a JVM
    projection (the cross-engine regex semantics live in ONE place,
    :func:`normalized_text`); the per-gram work runs in the Python
    kernel (r12, guide §4.2 — it replaced an interpreted
    transform/slice/array_min HOF chain whose per-gram string+hex
    allocations ran 1.9× over linear at the 100× sweep; hashlib md5
    is C, the window minimum is a monotonic-deque sliding min,
    and outputs are verified row-identical to the HOF form at every
    SF). md5 (not xxhash64) is the hash because the fingerprints
    themselves are the output contract and md5 is the only hash both
    engines define identically; :func:`winnow_fingerprints_fast` is
    the same selection with the ~3× cheaper numpy polynomial kernel
    for deployments that never cross-check engines.
    """
    return _winnow_udf(
        df, text_col, id_col, k, w, pre_normalized,
        _winnow_md5_arrays, "array<string>",
    )


def _winnow_udf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    w: int,
    pre_normalized: bool,
    kernel,
    return_type: str,
) -> DataFrame:
    """The one winnow extraction wrapper: ``kernel(texts, k, w)`` as
    an Arrow-batched pandas UDF over the normalized ``text_col`` →
    ``(id_col, fps return_type)``.

    ``pre_normalized=True``: ``text_col`` already holds
    :func:`normalized_text` output (the accuracy gate shares ONE
    normalization pass between both hash families), so the second,
    identical regex projection is skipped. normalized_text is
    idempotent, so this is a pure cost knob, never a semantic one.
    """
    if w < 1 or k < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")

    def _f(texts):
        return pd.Series(kernel(texts, k, w))

    _f.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    src = F.col(text_col) if pre_normalized else normalized_text(F.col(text_col))
    return df.select(
        F.col(id_col), F.pandas_udf(_f, return_type)(src).alias("fps")
    )


def _overlap_pairs(
    cand: DataFrame,
    fps: DataFrame,
    fp_index: DataFrame | None,
    fp_df: DataFrame | None,
    id_col: str,
    df_cap: int,
    overlap_threshold: float,
) -> DataFrame:
    """The overlap verify of materialized candidate pairs ``cand``
    (id_a < id_b) from a generator that does not count shared
    fingerprints itself (LSH): ``shared`` is the size of the
    intersection of the two docs' df-capped fingerprint sets, then
    :func:`_overlap_accept`.

    ``fps`` is the batch's materialized ``(id_col, fps)`` array frame.
    History takes part through two landed tables, ``None`` when there
    is none, and is never rescanned:

    - ``fp_index``: the accumulated EXPLODED ``(id, fp)`` fingerprint
      rows (uncapped), read only for candidate-touched ids
      (:func:`pair_docs`), so the verify reads O(touched docs ×
      fps/doc) rows, not the corpus;
    - ``fp_df``: the accumulated per-fingerprint document frequencies,
      read only for the touched docs' fingerprints.

    Document frequencies are ``history + batch`` (the batch's own
    counts are one O(batch) aggregation), so every decision equals
    what a full run over (history ∪ batch) decides. Precondition:
    batch ids are disjoint from history ids (a re-ingested id would
    double-count its fingerprints in the df).

    Plan shape: one per-doc aggregation gives each touched doc its
    df-capped fingerprint ARRAY and its uncapped count; both attach to
    the pairs with two id-keyed joins, and the arrays are intersected
    per pair (``array_intersect``) — the :func:`hashed_ngram_jaccard`
    shape. Joining candidates with the EXPLODED index instead died
    ENOSPC at the 100× sweep: that intermediate is |candidates| ×
    per-doc density ≈ 5 B rows. Fingerprints are rehashed
    ``xxhash64(fp)`` for the verify arrays only (8 bytes vs a 32-byte
    md5 hex string); both sides of every intersection use the same
    rehash, so ``shared`` equals the fingerprint count modulo ~2⁻⁶⁴
    collisions. The touched docs' exploded rows are materialized
    (:func:`stage_boundary`): the per-doc aggregation feeds both join
    sides, and with history the df lookup reads them too. The
    corpus-sized joins are hinted shuffle_hash, because cached-plan
    size estimates once picked a 100×-replicated build side for
    broadcast.
    """
    new_idx = fps.select(F.col(id_col), F.explode("fps").alias("fp"))
    idx = new_idx
    if fp_index is not None:
        idx = idx.unionByName(fp_index.select(F.col(id_col), "fp"))
    rel_idx = stage_boundary(pair_docs(cand, idx, id_col))
    # document frequencies stay GLOBAL (the df-cap is a corpus-wide
    # statistic): the batch's own counts, plus history's for the
    # fingerprints the touched docs carry
    df_tot = _doc_freq(new_idx)
    if fp_df is not None:
        old = fp_df.join(rel_idx.select("fp").distinct(), "fp", "left_semi")
        df_tot = old.unionByName(df_tot).groupBy("fp").agg(F.sum("df").alias("df"))
    kept = _df_capped(df_tot, df_cap).withColumn("__k", F.lit(True))
    per_doc = (
        rel_idx.join(kept.hint("shuffle_hash"), "fp", "left")
        .groupBy(id_col)
        .agg(
            F.collect_list(F.when(F.col("__k"), F.xxhash64("fp"))).alias("f"),
            F.count("*").alias("n"),
        )
    )
    a, b = (per_doc.toDF(f"id_{s}", f"f{s}", f"n_{s}") for s in "ab")
    pairs = (
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .withColumn("shared", F.size(F.array_intersect("fa", "fb")))
    )
    return _overlap_accept(pairs, overlap_threshold)


def _overlap_accept(pairs: DataFrame, overlap_threshold: float) -> DataFrame:
    """The one winnow accept rule, over ``(id_a, id_b, shared, n_a,
    n_b)`` rows: ``shared`` counted over the df-capped fingerprint
    index (:func:`_df_capped`: a fingerprint outside ``[2, df_cap]``
    contributes to neither candidates nor scores), ``n_a``/``n_b``
    the UNCAPPED per-doc fingerprint counts (a doc's identity does not
    shrink because its boilerplate got capped). Keeps
    ``overlap = shared / min(n_a, n_b) >= overlap_threshold`` →
    ``(id_a, id_b, shared bigint, overlap double)``, overlap
    dround(4)-rounded."""
    ov = F.col("shared").cast("double") / F.least("n_a", "n_b")
    return pairs.filter((F.col("shared") >= 1) & (ov >= overlap_threshold)).select(
        "id_a",
        "id_b",
        F.col("shared").cast("bigint").alias("shared"),
        dround(ov, 4).alias("overlap"),
    )


def _doc_freq(idx: DataFrame) -> DataFrame:
    """``(fp, df)``: the document frequency of each fingerprint of an
    exploded ``(id, fp)`` index."""
    return idx.groupBy("fp").agg(F.count("*").alias("df"))


def _df_capped(df_counts: DataFrame, df_cap: int) -> DataFrame:
    """The fingerprints of ``(fp, df)`` that take part in matching:
    df = 1 pairs with nothing, and df > ``df_cap`` is boilerplate."""
    return df_counts.filter(
        (F.col("df") >= 2) & (F.col("df") <= df_cap)
    ).select("fp")


def winnow_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    w: int = 8,
    df_cap: int = 64,
    overlap_threshold: float = 0.5,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs from a winnowed inverted index (the MOSS match
    step): docs sharing >= ``overlap_threshold`` of the smaller doc's
    fingerprints (overlap coefficient — the paper reports matches as
    fraction-of-document covered, which the containment form mirrors;
    plain Jaccard would under-score a small doc embedded in a large
    one). Output and accept rule: :func:`_overlap_accept`.

    Generator and count in one: the inverted index has ~2/(w+1)
    entries per char (winnowing's density guarantee), and pair
    generation joins the df-capped index with itself ON the
    fingerprint — cost is sum over fingerprints of df², NOT corpus² —
    so the join's row count per pair IS the exact ``shared``. Unlike
    the LSH-proposed hybrid, no array verify (:func:`_overlap_pairs`)
    follows: most self-join pairs share one or two coincidental
    fingerprints (538 k candidates for 258 accepted pairs at sf0.1),
    and carrying two fingerprint arrays per candidate through the
    verify measured 2× slower than this count. The df-cap (a
    fingerprint shared by thousands of docs is boilerplate — the same
    rationale as the LSH bucket cap above) is DETERMINISTIC —
    membership depends only on (fp, df), never on partitioning — so
    the full operator is exactly oracle-checkable. Every join is
    hinted SHUFFLE_HASH: at corpus scale both sides grow with the
    corpus, and without the hint the static planner, seeing a
    materialized input's optimistic size estimate, picked the
    100×-replicated index as a broadcast build side and overflowed
    spark.driver.maxResultSize (caught by the scale sweep).

    The per-doc fingerprint table is materialized
    (:func:`stage_boundary`): it feeds the exploded index (hence
    df-counts, both join sides) AND the size lookups. Left inline, the
    per-k-gram extraction re-executes per branch (measured 396.7 s
    inline vs 7.2 s materialized for the identical 25-pair answer on
    the 500-doc sf0.01 corpus). At corpus scale land the fingerprint
    table to parquet first and pass it via ``fingerprints`` (what
    tools/scale_sweep.py's sharded runner does).

    ``fingerprints`` (optional) supplies a precomputed
    ``(id_col, fps)`` frame — any member of the winnow hash family
    (e.g. :func:`winnow_fingerprints_fast`, or an already-landed
    fingerprint table); ``k``/``w`` are then ignored. The matcher is
    family-agnostic: it only does set algebra on ``fps``.
    """
    if fingerprints is None:
        fingerprints = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    fps = stage_boundary(fingerprints)
    idx = fps.select(F.col(id_col), F.explode("fps").alias("fp"))
    kept = idx.join(_df_capped(_doc_freq(idx), df_cap).hint("shuffle_hash"), "fp")
    a, b = (kept.select(F.col(id_col).alias(c), "fp") for c in ("id_a", "id_b"))
    sizes = fps.select(F.col(id_col), F.size("fps"))
    sa, sb = (sizes.toDF(f"id_{s}", f"n_{s}") for s in "ab")
    pairs = (
        a.join(b.hint("shuffle_hash"), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
    )
    return _overlap_accept(pairs, overlap_threshold)


def _winnow_fast_arrays(
    texts: pd.Series, k: int, w: int
) -> list:
    """Per text: np.unique'd uint64 winnowed fingerprints over BYTE
    k-grams of the (already normalized) text — the numpy twin of the
    md5 extraction, one vectorized pass per Arrow batch.

    Hash family: fixed-coefficient polynomial over the k bytes
    (FNV-prime powers, uint64 wraparound) + fmix64 finalization — the
    same construction as the minhash gram kernel above: k vectorized
    multiply-adds over the whole byte array, no per-gram Python. The
    corpus is ASCII so byte k-grams == the md5 family's char k-grams;
    a multibyte corpus shifts gram boundaries, which changes WHICH
    near-dups score how — acceptable for the production path, and the
    accuracy gate (winnow_fast_accuracy) is what pins the two
    families to the same answer on real data.
    """
    B = _U64(1099511628211)  # FNV-1a prime
    # powers mod 2^64 via Python int pow, then cast: numpy scalar **
    # is not guaranteed to stay in wrapping uint64 on every platform
    powers = [
        _U64(pow(1099511628211, k - 1 - j, 1 << 64)) for j in range(k)
    ]
    out = []
    for s in texts:
        if s is None:
            out.append(None)
            continue
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        n = len(b)
        if n == 0:
            out.append(np.array([0], dtype=np.int64))
            continue
        c = b.astype(_U64)
        if n >= k:
            m = n - k + 1
            g = np.zeros(m, dtype=_U64)
            for j in range(k):
                g += c[j: m + j] * powers[j]
        else:  # short doc → one whole-text gram
            acc = _U64(0)
            for j in range(n):
                acc = acc * B + c[j]
            g = np.array([acc], dtype=_U64)
        g = _fmix64(g)
        if len(g) > w:
            from numpy.lib.stride_tricks import (  # noqa: PLC0415
                sliding_window_view,
            )

            mins = sliding_window_view(g, w).min(axis=1)
        else:
            mins = np.array([g.min()], dtype=_U64)
        out.append(np.unique(mins).view(np.int64))
    return out


def winnow_fingerprints_fast(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    w: int = 8,
    *,
    pre_normalized: bool = False,
) -> DataFrame:
    """Production-path winnowing: (id_col, fps array<bigint>).

    Same selection semantics as :func:`winnow_fingerprints`
    (normalize → k-gram hash → window-min → distinct) with the hash
    family swapped from md5 (cross-engine-portable, the oracle
    contract) to the numpy polynomial kernel — measured 2.3× faster
    warm at sf0.1 (0.58 s vs 1.35 s for the full extraction), with
    the gap growing under scale's GC pressure (the md5 HOF form ran
    1.9× over linear at the 100× sweep — per-gram string+hex
    allocations; this kernel allocates two numpy arrays per doc).
    Different hash values ⇒ different (but
    equally valid) winnowed SELECTIONS, so outputs are a hash FAMILY,
    not comparable value-for-value with the md5 form; the
    ``winnow_fast_accuracy`` gate pins the two families to the same
    near-dup answer.
    """
    return _winnow_udf(
        df, text_col, id_col, k, w, pre_normalized,
        _winnow_fast_arrays, "array<bigint>",
    )


def hybrid_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 16,
    w: int = 8,
    df_cap: int = 64,
    overlap_threshold: float = 0.6,
    fingerprints: DataFrame | None = None,
    bands: DataFrame | None = None,
    band_index: DataFrame | None = None,
    fp_index: DataFrame | None = None,
    fp_df: DataFrame | None = None,
) -> DataFrame:
    """Hybrid near-dup matcher: MinHash-LSH *proposes* candidate
    pairs (:func:`minhash_lsh_pairs` at its defaults: 32 hashes,
    8 bands, 3-shingles, buckets capped at 512), winnowed-fingerprint
    overlap *decides* (:func:`_overlap_pairs`, with the accept rule
    and output of :func:`winnow_near_dup_pairs`).

    Why the composition: the pure winnow matcher's pair generation
    grows as Σ C(df,2) over the inverted index (736 M candidates
    measured at 30×, ~8 B extrapolated at 100×), while LSH banding's
    bucket-capped candidate volume grew only to 24.5 M at 100× — so
    at corpus scale the LSH stage bounds the pair universe and the
    winnow stage scores ONLY those pairs.

    Increment: ``band_index`` / ``fp_index`` / ``fp_df`` are the
    landed history state — the ``(id, band, bucket)`` rows, the
    exploded ``(id, fp)`` fingerprint rows and the per-fingerprint
    document frequencies; ``None`` (the default) is an empty history,
    the batch run. Only ``df`` is shingled/minhashed/winnowed; the
    pairs have at least one ``df`` endpoint, and equal a full run over
    (history ∪ batch) minus the old×old pairs — the
    ``stream_hybrid_dedup_batch_eq`` gate asserts it. Each batch is
    decided under the state SO FAR: a fingerprint whose df later
    crosses the cap does not retro-revise earlier batches' accepted
    pairs (a periodic full recompute is the compaction that
    reconciles, same as for the LSH bucket caps). After the probe the
    caller appends the batch's band rows, fp rows and merged df counts
    to state.

    Determinism: both stages are deterministic — the LSH bucket cap
    ranks members by ``md5(id)`` (partitioning-independent, see
    :func:`capped_bucket_members`) and the winnow df-cap depends only
    on (fp, df) — so the pair set is exactly replayable. On a corpus
    whose near-dups are true high-similarity pairs (the planted
    sf0.01/sf0.1 duplication), LSH recall over winnow-accepted pairs
    is 1 (miss prob ~1e-9 per planted pair at 8 bands × 4 hashes), so
    the output EQUALS the pure winnow matcher's and the DuckDB oracle
    is the same O(n²)-free winnow ground truth — the ``hybrid_near_dup``
    query hash-gates that equality end to end. A pair LSH misses is,
    by construction, low-Jaccard (below the ~0.72 banding knee), i.e.
    outside the near-dup contract both matchers target — with ONE
    documented exception: docs whose normalized text is EMPTY
    (``""``/whitespace-only) produce a null MinHash signature and are
    dropped before banding, so a winnow-accepted pair of two such
    docs (overlap 1.0 over their shared empty fingerprint set) is
    never proposed here. Those pairs are exact duplicates of the
    empty string, i.e. exact-dedup's job, and :func:`prep`'s
    ``exact_stage`` runs upstream of every near-dup backend, so the
    composed pipeline never sees the gap; standalone callers on a
    corpus where empty docs survive should run :func:`exact_dedup`
    first (the same precondition the LSH backend has).

    The candidates (read twice by the verify) and the batch's
    fingerprint arrays are materialized (:func:`stage_boundary`):
    inline, the winnow extraction re-evaluates inside every join
    branch (measured 90.8 s vs 1.7 s on a 94-doc batch).
    ``fingerprints`` / ``bands`` supply the batch's precomputed
    ``(id_col, fps)`` winnow frame (``k``/``w`` are then ignored) and
    :func:`minhash_band_table`, so a caller that appends both to state
    pays each extraction once.
    """
    cand = minhash_lsh_pairs(
        df, text_col, id_col, bands=bands, index=band_index
    ).transform(stage_boundary)
    if fingerprints is None:
        fingerprints = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    fps = stage_boundary(fingerprints)
    return _overlap_pairs(
        cand, fps, fp_index, fp_df, id_col, df_cap, overlap_threshold
    )


# ---------------------------------------------------------------------------
# Paragraph-granularity dedup (Lee et al. 2022 / Dolma paragraph dedup)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    para_words: int = 20,
    tokens: Column | None = None,
) -> DataFrame:
    """Sub-document dedup at PARAGRAPH granularity — the last
    published member of the dedup ladder (Lee et al. 2022,
    arXiv:2107.06499: duplicated spans are removed from *surviving*
    documents too; Dolma's paragraph-level dedup, arXiv:2402.00159
    §2.2): split each doc into paragraphs, fingerprint the normalized
    paragraph, keep only the FIRST occurrence corpus-wide
    (deterministic min ``(id, position)`` — the same survivor
    convention as :func:`exact_dedup` / the winnow matcher), and
    reassemble each doc from its surviving paragraphs.

    Semantics vs the two span-family neighbors already in the pack:
    ``span_dedup_c4`` removes EVERY occurrence of a corpus-frequent
    span (C4's boilerplate rule); ``chunk_dedup``/``exact_dedup``
    decide whole documents. This keeps exactly one copy of each
    duplicated paragraph and rewrites the rest — the rule the
    published pipelines apply between doc-level dedup and selection.

    The paragraph unit is parameterized: production corpora split on
    blank lines (``\\n{2,}``) — pass ``tokens=None`` and pre-split
    upstream, or pass a custom token Column; this corpus carries no
    newlines (TESTDATA.md), so the unit is non-overlapping
    ``para_words``-word windows over the word-token stream, exactly
    the ``span_dedup_c4`` convention. Docs with zero tokens are
    excluded (no paragraphs to decide).

    Returns ``(id_col, n_paras, n_kept, chars_removed, new_text)``
    per doc, where ``new_text`` is the kept paragraphs joined in
    original order (empty string when every paragraph lost) and
    ``chars_removed`` sums the dropped paragraphs' lengths.

    Plan/scale shape: paragraph TEXT never rides a shuffle — the
    winner election groups only ``(md5, id, pos)`` rows (~50 bytes)
    with MAP-SIDE partial min, so a boilerplate mega-paragraph
    collapses per task before its exchange (the window/row_number
    formulation the oracle uses was rejected for the engine side: no
    partial aggregation, one hot task per viral paragraph); the
    flag join back is hinted shuffle_hash (both sides corpus-sized);
    reassembly re-derives spans map-side from the doc's own tokens
    and keeps positions from the per-doc kept-array, so the only
    text movement is the final ``id``-equi-join — exchange-free when
    the corpus is bucketed by id at rest. Fully SQL-expressible →
    hash-gated end to end (the ``paragraph_dedup`` query).
    """
    toks = (
        tokens
        if tokens is not None
        else F.filter(
            F.split(normalized_text(F.col(text_col)), " "),
            lambda t: t != "",
        )
    )
    base = df.select(F.col(id_col), toks.alias("__w")).filter(
        F.size("__w") > 0
    )
    n_spans = F.ceil(F.size("__w") / F.lit(float(para_words))).cast("int")
    span_at = lambda p: F.array_join(  # noqa: E731
        F.slice("__w", p * para_words + 1, para_words), " "
    )
    spans_meta = base.select(
        id_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_spans - 1), span_at)
        ).alias("pos", "__span"),
    ).select(
        id_col,
        "pos",
        F.md5("__span").alias("h"),
        F.length("__span").alias("span_len"),
    )
    win = spans_meta.groupBy("h").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("w_id"), F.col("pos").alias("w_pos")
            )
        ).alias("w")
    )
    keep = (F.col(id_col) == F.col("w.w_id")) & (
        F.col("pos") == F.col("w.w_pos")
    )
    flags = spans_meta.join(win.hint("shuffle_hash"), "h").select(
        id_col, "pos", "span_len", keep.alias("keep")
    )
    per_doc = flags.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(~F.col("keep"), F.col("span_len")).otherwise(0)
        ).cast("bigint").alias("chars_removed"),
        F.array_sort(
            F.collect_list(F.when(F.col("keep"), F.col("pos")))
        ).alias("__kept_pos"),
    )
    return base.join(per_doc, id_col).select(
        id_col,
        "n_paras",
        "n_kept",
        "chars_removed",
        F.array_join(
            F.transform("__kept_pos", span_at), " "
        ).alias("new_text"),
    )
