"""Training-data SELECTION operators — which documents to train on,
as opposed to the dedup family's which documents are copies.

The published selection recipes, each expressed as a pure DataFrame
plan over a token-array column (callers pass the pack's shared
cross-engine tokenization so Spark and the DuckDB oracle split words
identically). Besides the two below, the module carries UniMax
budget-constrained mixture weights (:func:`unimax_allocation`), the
DSIR effective-sample-size diagnostic (:func:`dsir_ess`), and the
closed-form Naive-Bayes quality classifier
(:func:`nb_quality_model` / :func:`nb_prior` /
:func:`nb_quality_scores` — the model-based funnel rung, r11):

* **DSIR** — Data Selection via Importance Resampling (Xie et al.,
  NeurIPS 2023): hashed-bag-of-n-gram features (unigrams + word
  bigrams md5-hashed into ``N_BUCKETS`` buckets), a smoothed
  target-vs-raw unigram model over the buckets, per-document log
  importance weight ``sum_b c_b(x) * (log p_target(b) - log
  p_raw(b))``, then Gumbel top-k — sampling without replacement
  proportionally to the weights via ``log w + Gumbel`` keys. The
  Gumbel noise here is *deterministic* (hash-seeded from the doc id),
  so retries, both engines, and any partitioning draw the identical
  sample.
* **Kneser-Ney perplexity filtering** — the CCNet recipe (Wenzek et
  al., LREC 2020) with its pretrained KenLM replaced by a bigram LM
  trained ON the corpus itself with interpolated Kneser-Ney smoothing
  (Kneser & Ney 1995; Chen & Goodman 1998) — the smoothing family
  KenLM actually implements, one rung above the pack's add-one
  ``bigram_logprob_quality``.

Scale posture (both operators): every model table is
vocabulary-bounded (hash buckets are capped at ``N_BUCKETS``; distinct
bigrams ≪ corpus positions), so the smoothing arithmetic runs on
vocab-sized frames and broadcasts; the only corpus-sized exchanges are
the gram/bigram count aggregations and one gram→model equi-join.
Reference parity: the reference engine has no data-selection surface
(its pipeline stops at format/combine/predict — see
scripts/processing/combine_sources.py); these extend the
training-data tier the same way the dedup/ANN families do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.session import stage_boundary

from yahoofinancedatalake_spark.functions.scalars import dround

#: Hex prefix length of the md5 gram hash → 16^3 = 4096 feature
#: buckets. The paper uses 10k buckets; 4096 keeps the bucket id a
#: plain substring (cross-engine trivial) at the same order of
#: magnitude.
N_BUCKET_HEX = 3
N_BUCKETS = 16**N_BUCKET_HEX

#: Additive smoothing for both bucket models: p(b) = (c_b + ALPHA) /
#: (total + ALPHA * N_BUCKETS). Keeps log-ratios finite on buckets the
#: target corpus never hits.
DSIR_ALPHA = 0.5

#: Absolute discount for interpolated Kneser-Ney. 0.75 is the
#: textbook fixed discount (Chen & Goodman's D = n1/(n1+2*n2) tuned
#: value hovers around it on natural text).
KN_DISCOUNT = 0.75


def _const_key(c: Column) -> Column:
    """The data-derived constant key for folding a 1-row aggregate
    into a big table via an EQUI-join (BroadcastHashJoin): evaluates
    to 0 on every row, but because the key is DERIVED FROM DATA
    Catalyst cannot constant-fold the join condition away (a literal
    key on both sides degenerates straight back to the
    BroadcastNestedLoopJoin the plan suite treats as a scale killer).
    Shared by the selection operators and, through the query
    registry, by every scalar-subquery-shaped query in the pack."""
    return F.pmod(F.xxhash64(c), F.lit(1)).cast("int")


def hashed_gram_rows(
    df: DataFrame, toks_col: str, id_col: str, *extra_cols: str
) -> DataFrame:
    """One row per unigram AND word-bigram occurrence, reduced to its
    md5 hash bucket: ``(id, *extra, bucket)``.

    The gram text never leaves the projection — only the 3-hex-char
    bucket id survives, so the corpus-sized exchange downstream
    carries ~4-byte keys, not document text.
    """
    keep = [id_col, *extra_cols]
    toks = F.col(toks_col)
    # ONE pass (r13): the former unigram/bigram UNION consumed the
    # input twice — two text scans + two tokenizations per gram pass,
    # paid by every DSIR/NB train and score plan. Concatenating the
    # per-row bigram array onto the token array and exploding once
    # emits the same row multiset (downstream is bucket/id-keyed
    # aggregation — order-free). The when-guard keeps the negative
    # slice length of 0/1-token docs unevaluated (ANSI mode throws).
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    allgrams = F.concat(
        toks,
        F.when(F.size(toks) >= 2, bigrams).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return df.select(*keep, F.explode(allgrams).alias("g")).select(
        *keep, F.substring(F.md5("g"), 1, N_BUCKET_HEX).alias("bucket")
    )


def dsir_model(
    df: DataFrame, toks_col: str, target_col: str
) -> DataFrame:
    """Train the DSIR bucket model: ``(bucket, llr, dflt)`` over every
    bucket seen in the training corpus.

    ``target_col`` is a boolean column marking the rows that define
    the TARGET distribution (the high-quality corpus the selection
    should imitate); the RAW distribution is the whole input; ``llr =
    log p_target(b) - log p_raw(b)`` under ALPHA-smoothed bucket
    unigram models. ``dflt`` (constant across rows) is the llr an
    UNSEEN bucket gets under the same smoothing — both models back
    off to their alpha mass — so a frozen model can score documents
    that arrive later (the streaming-delivery shape).

    One grouped aggregation builds BOTH count tables (raw count, and
    target count via a conditional sum) — a single corpus-sized
    shuffle; everything after is ≤N_BUCKETS rows. llr/dflt are
    dround(6)-pinned here once so every scoring engine sums identical
    doubles.
    """
    rows = hashed_gram_rows(df, toks_col, target_col)
    counts = rows.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.when(F.col(target_col), 1).otherwise(0)).alias("tc"),
    )
    tot = counts.agg(
        F.sum("rc").alias("rt"), F.sum("tc").alias("tt")
    ).withColumn("__k", _const_key(F.col("rt")))
    denom = F.lit(DSIR_ALPHA * N_BUCKETS)
    return (
        counts.withColumn("__k", _const_key(F.col("bucket")))
        .join(F.broadcast(tot), "__k")
        .select(
            "bucket",
            dround(
                F.log((F.col("tc") + DSIR_ALPHA) / (F.col("tt") + denom))
                - F.log((F.col("rc") + DSIR_ALPHA) / (F.col("rt") + denom)),
                6,
            ).alias("llr"),
            dround(
                F.log(F.lit(DSIR_ALPHA) / (F.col("tt") + denom))
                - F.log(F.lit(DSIR_ALPHA) / (F.col("rt") + denom)),
                6,
            ).alias("dflt"),
        )
    )


def dsir_score(
    df: DataFrame, toks_col: str, id_col: str, model: DataFrame
) -> DataFrame:
    """Score documents against a (possibly frozen) DSIR model:
    ``(id, n_grams, logw)`` with ``logw = sum over gram occurrences
    of llr(bucket)``, unseen buckets falling back to the model's
    ``dflt``. The ≤N_BUCKETS-row model broadcasts onto the gram rows
    (one 1-row broadcast for the default, one left join for the seen
    buckets) — scoring never shuffles anything but the per-doc agg."""
    rows = hashed_gram_rows(df, toks_col, id_col)
    dflt = model.agg(F.min("dflt").alias("dflt")).withColumn(
        "__k", _const_key(F.col("dflt"))
    )
    rows_d = (
        rows.withColumn("__k", _const_key(F.col("bucket")))
        .join(F.broadcast(dflt), "__k")
        .drop("__k")
    )
    scored = rows_d.join(
        F.broadcast(model.select("bucket", "llr")), "bucket", "left"
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        dround(
            F.sum(F.coalesce(F.col("llr"), F.col("dflt"))), 6
        ).alias("logw"),
    )


def dsir_logweights(
    df: DataFrame, toks_col: str, id_col: str, target_col: str
) -> DataFrame:
    """Per-document DSIR log importance weight of the corpus under
    its OWN model — :func:`dsir_model` trained on ``df`` then
    :func:`dsir_score` of ``df`` (self-scoring only ever hits seen
    buckets, so the ``dflt`` backoff is inert here).

    The model is ``localCheckpoint()``\\ ed here (r12, EAGER): scoring
    consumes the model table twice (the unseen-bucket default
    aggregate and the per-bucket broadcast), and un-materialized each
    consumer re-executes the corpus-sized gram aggregation under it —
    three corpus passes where train-once needs one. The checkpoint is
    ≤``N_BUCKETS`` rows, so materialization is O(model), not
    O(corpus); its blocks belong to the caller's boundary scope
    (:func:`~yahoofinancedatalake_spark.session.boundary_scope`)."""
    model = dsir_model(df, toks_col, target_col).transform(stage_boundary)
    return dsir_score(df, toks_col, id_col, model)


def gumbel_key(id_col: Column) -> Column:
    """Deterministic standard-Gumbel draw seeded by the id: u =
    (first 8 md5 hex chars as uint32 + 0.5) / 2^32 ∈ (0,1), g =
    -ln(-ln u). Hash-seeded instead of rand() so retries, engines,
    and re-partitioning reproduce the identical noise — the same
    reproducibility contract as the pack's md5 split/sample gates."""
    u = (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    return -F.log(-F.log(u))


def dsir_resample(
    weights: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Gumbel top-k over the log-weights: adding i.i.d. Gumbel noise
    to ``log w`` and taking the k largest keys is an exact sample of
    k items without replacement with probabilities ∝ w (the Gumbel
    top-k trick the DSIR paper uses). The key is dround(6)-pinned and
    ties break on the id, so the selected SET is deterministic.
    Plans as TakeOrderedAndProject — a distributed per-partition
    top-k reduce, never a global sort."""
    keyed = weights.withColumn(
        "gkey", dround(F.col("logw") + gumbel_key(F.col(id_col)), 6)
    )
    return keyed.orderBy(F.desc("gkey"), id_col).limit(k)


def kn_prob_table(
    df: DataFrame,
    toks_col: str,
    *,
    discount: float = KN_DISCOUNT,
) -> DataFrame:
    """Train an interpolated Kneser-Ney bigram LM on the corpus:
    returns the model as ``(w1, w2, lp)`` over every SEEN bigram type,

        P(w2|w1) = (max(c(w1,w2) - D, 0)
                    + D * N1+(w1,·) * Pcont(w2)) / c(w1,·)
        Pcont(w2) = N1+(·,w2) / |distinct bigram types|

    — continuation probability from how many distinct contexts a word
    follows, not how often it occurs (the insight that separates KN
    from add-k: "Francisco" is frequent but follows almost nothing
    but "San"). All four statistics derive from the single bigram
    count table, so the model build is vocabulary-sized end to end;
    ``lp = dround(ln P, 6)`` is pinned here once so scoring engines
    sum identical doubles.

    The bigram count table ``bc`` is persisted for the call: it feeds
    FOUR consumers (ctx, cont, dtot, the final join), and
    un-materialized each reference re-executes the corpus-sized
    bigram explode+count shuffle — four corpus passes for one
    vocabulary-sized table (see OPTIMIZATION_r12.md for the measured
    delta). The returned model is materialized here
    (:func:`stage_boundary`) and ``bc`` unpersisted in ``finally``,
    so the call leaves no cached table behind; the checkpoint blocks
    belong to the caller's boundary scope. The model is
    bigram-TYPE-bounded (vocabulary-sized), never corpus-sized."""
    base = df.filter(F.size(toks_col) >= 2)
    bg = base.select(
        F.explode(
            F.zip_with(
                F.slice(toks_col, 1, F.size(toks_col) - 1),
                F.slice(toks_col, 2, F.size(toks_col) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("x")
    ).select("x.w1", "x.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).persist()
    ctx = bc.groupBy("w1").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1v")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1w"))
    dtot = bc.agg(F.count(F.lit(1)).alias("dtot")).withColumn(
        "__k", _const_key(F.col("dtot"))
    )
    cont_d = (
        cont.withColumn("__k", _const_key(F.col("w2")))
        .join(F.broadcast(dtot), "__k")
        .drop("__k")
    )
    d = F.lit(float(discount))
    p = (
        F.greatest(F.col("c") - d, F.lit(0.0))
        + d * F.col("n1v") * (F.col("n1w") / F.col("dtot"))
    ) / F.col("cv")
    model = (
        bc.join(ctx, "w1")
        .join(cont_d, "w2")
        .select("w1", "w2", dround(F.log(p), 6).alias("lp"))
    )
    try:
        return stage_boundary(model)
    finally:
        bc.unpersist()


def kneser_ney_scores(
    df: DataFrame,
    toks_col: str,
    id_col: str,
    *,
    discount: float = KN_DISCOUNT,
) -> DataFrame:
    """Per-document Kneser-Ney quality score: mean ln P(w_i|w_{i-1})
    under :func:`kn_prob_table` plus the perplexity ``exp(-mean)`` —
    the CCNet filter statistic (cull the high-perplexity tail).
    Scoring the training corpus itself means every bigram is in-model,
    so P > 0 without an OOV backoff path. The corpus joins the
    bigram-type-keyed model ONCE; at 100 TB that model is
    vocab²-bounded — broadcastable or bucketed — and the probability
    arithmetic never touches a corpus-sized frame."""
    model = kn_prob_table(df, toks_col, discount=discount)
    base = df.filter(F.size(toks_col) >= 2)
    bg = base.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(toks_col, 1, F.size(toks_col) - 1),
                F.slice(toks_col, 2, F.size(toks_col) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("x"),
    ).select(id_col, "x.w1", "x.w2")
    scored = bg.join(model, ["w1", "w2"])
    mean_lp = dround(F.sum("lp"), 6) / F.count(F.lit(1))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        mean_lp.alias("mean_logprob"),
        dround(F.exp(-mean_lp), 4).alias("ppl"),
    )


def dsir_ess(weights: DataFrame) -> DataFrame:
    """Effective sample size of a DSIR importance-weight table —
    the standard resampling diagnostic (Kong 1992; the quantity the
    DSIR paper's resampling step implicitly depends on):

        ESS = (sum_i w_i)^2 / sum_i w_i^2,   w_i = exp(logw_i)

    computed in the max-shifted form ``w'_i = exp(logw_i - max
    logw)`` (ESS is scale-invariant, and the shift keeps every
    exponent <= 0 so no overflow at any corpus size). Returns ONE
    row ``(n_docs, max_logw, ess, ess_frac)`` — ``ess_frac = ESS/n``
    near 1 means the target and raw distributions agree (resampling
    changes little); near 1/n means a handful of docs carry all the
    weight (the selection is degenerate and k should shrink).

    Scale: two corpus-sized aggregations (the max, then the shifted
    sums) joined through a 1-row broadcast — nothing wider than the
    weight table itself ever shuffles. ``logw`` is dround(6)-pinned
    upstream, so both engines exponentiate identical doubles; the
    outputs are re-pinned here (sum-order ulp noise is ~1e-14
    relative, far inside the rounding bin).

    The weight table is ``localCheckpoint()``\\ ed first (r12, EAGER):
    the max-shift needs two passes over it by construction, and when
    ``weights`` arrives as a lazy scoring plan (the
    :func:`dsir_logweights` composition) each pass re-executes that
    whole plan. The checkpoint is one (id, n_grams, logw) row per
    document — O(doc count), never O(gram count)."""
    weights = weights.transform(stage_boundary)
    mx = weights.agg(F.max("logw").alias("max_logw")).withColumn(
        "__k", _const_key(F.col("max_logw"))
    )
    shifted = (
        weights.withColumn("__k", _const_key(F.col("logw")))
        .join(F.broadcast(mx), "__k")
        .withColumn("w", F.exp(F.col("logw") - F.col("max_logw")))
    )
    s = shifted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.first("max_logw").alias("max_logw"),
        F.sum("w").alias("s1"),
        F.sum(F.col("w") * F.col("w")).alias("s2"),
    )
    ess = (F.col("s1") * F.col("s1")) / F.col("s2")
    return s.select(
        "n_docs",
        "max_logw",
        dround(ess, 4).alias("ess"),
        dround(ess / F.col("n_docs"), 6).alias("ess_frac"),
    )


def unimax_allocation(
    token_counts: DataFrame,
    group_col: str,
    *,
    budget_factor: float = 1.6,
    epoch_cap: float = 2.0,
) -> DataFrame:
    """UniMax budget-constrained mixture weights (Chung et al., ICLR
    2023): spread a total training-token budget UNIFORMLY across
    groups (languages/sources), capping each group at ``epoch_cap``
    epochs of its own data — the paper's alternative to
    temperature sampling that provably bounds repetition of
    low-resource groups. Input: ``(group, n_toks)`` per group; budget
    = floor(budget_factor * total tokens).

    The paper's sequential waterfilling loop has a closed form over
    the cap-ascending order: with caps c_(1) <= ... <= c_(n) and
    prefix sums, the water level is

        L = max_i (B - sum_{j<i} c_(j)) / (n - i + 1)

    and ``alloc_i = min(c_i, L)`` (each candidate level assumes
    groups before position i are capped; the max picks the
    consistent one — verified against the sequential reference in
    tests across capped/uncapped/all-capped corners). Emits
    ``(group, n_toks, cap, alloc, epochs)``.

    Scale: the input is ONE group-level aggregate (map-side partial
    over the corpus); everything after is an n_groups-row frame, so
    the single-partition window is driver-scale by construction —
    the same shape as every mixture-weight table in production
    (UniMax's own table is ~100 languages)."""
    tot = token_counts.agg(
        F.sum("n_toks").alias("tt"), F.count(F.lit(1)).alias("ng")
    ).withColumn("__k", _const_key(F.col("tt")))
    g = (
        token_counts.withColumn("__k", _const_key(F.col(group_col)))
        .join(F.broadcast(tot), "__k")
        .drop("__k")
        .withColumn("budget", F.floor(F.lit(budget_factor) * F.col("tt")))
        .withColumn("cap", F.lit(epoch_cap) * F.col("n_toks"))
    )
    w = Window.orderBy("cap", group_col)
    lvl = (
        F.col("budget")
        - (F.sum("cap").over(w) - F.col("cap"))
    ) / (F.col("ng") - F.row_number().over(w) + 1)
    keyed = g.withColumn("lvl", lvl)
    wall = Window.partitionBy()
    alloc = F.least(F.col("cap"), F.max("lvl").over(wall))
    # greatest(n_toks, 1): a zero-token group has cap 0 hence alloc 0,
    # and 0/0 is engine-divergent (Spark Divide → NULL, DuckDB IEEE →
    # NaN) — the guard pins epochs to an exact 0.0 on both (ADVICE r10)
    return keyed.select(
        F.col(group_col),
        "n_toks",
        dround(F.col("cap"), 4).alias("cap"),
        dround(alloc, 4).alias("alloc"),
        dround(
            alloc / F.greatest(F.col("n_toks"), F.lit(1)), 6
        ).alias("epochs"),
    )


def nb_quality_model(
    df: DataFrame, toks_col: str, label_col: str
) -> DataFrame:
    """Train the model-based quality classifier: a multinomial
    Naive-Bayes linear scorer over the SAME hashed bag-of-n-gram
    buckets as :func:`dsir_model` — the closed-form member of the
    fastText/logistic family the published funnels use for their
    model-based rung (CCNet's fastText quality classifier; FineWeb-edu's
    learned scorer). NB is the right closed form here: its decision
    function is already linear in the bucket counts, the fit is two
    smoothed count tables (no iterative solver — exactly reproducible
    on any engine), and over hashed n-gram features it IS a trained
    linear text classifier (McCallum & Nigam 1998).

    ``label_col`` is a boolean column: True rows are the POSITIVE
    (high-quality) training examples, False the negative. Returns
    ``(bucket, wgt, dflt)`` over every bucket seen in the training
    corpus:

        wgt(b) = ln p(b|pos) - ln p(b|neg)

    under ALPHA-smoothed multinomial bucket models (the same
    ``DSIR_ALPHA``/``N_BUCKETS`` smoothing as the DSIR tables —
    deliberately, so the two model families share one feature
    pipeline and one scale posture). ``dflt`` is the weight an unseen
    bucket gets (both classes back off to their alpha mass), so a
    FROZEN model scores later-arriving documents — the
    streaming-delivery shape.

    Difference from :func:`dsir_model`: DSIR contrasts a target slice
    against the WHOLE corpus (importance weighting, labels need not
    be curated); the classifier contrasts labeled positives against
    labeled negatives and adds a class prior (:func:`nb_prior`) so
    the score is a calibrated posterior log-odds, thresholdable at 0.

    Scale: one corpus-sized gram shuffle builds both class count
    tables (conditional sums in the same agg); everything after is
    ≤``N_BUCKETS`` rows and broadcasts. ``wgt``/``dflt`` are
    dround(6)-pinned once so every scoring engine sums identical
    doubles."""
    rows = hashed_gram_rows(df, toks_col, label_col)
    counts = rows.groupBy("bucket").agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("pc"),
        F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("nc"),
    )
    tot = counts.agg(
        F.sum("pc").alias("pt"), F.sum("nc").alias("nt")
    ).withColumn("__k", _const_key(F.col("pt")))
    denom = F.lit(DSIR_ALPHA * N_BUCKETS)
    return (
        counts.withColumn("__k", _const_key(F.col("bucket")))
        .join(F.broadcast(tot), "__k")
        .select(
            "bucket",
            dround(
                F.log((F.col("pc") + DSIR_ALPHA) / (F.col("pt") + denom))
                - F.log((F.col("nc") + DSIR_ALPHA) / (F.col("nt") + denom)),
                6,
            ).alias("wgt"),
            dround(
                F.log(F.lit(DSIR_ALPHA) / (F.col("pt") + denom))
                - F.log(F.lit(DSIR_ALPHA) / (F.col("nt") + denom)),
                6,
            ).alias("dflt"),
        )
    )


def nb_prior(df: DataFrame, label_col: str) -> DataFrame:
    """Class log-prior for :func:`nb_quality_scores`: ONE row
    ``(prior,)`` with ``prior = ln(n_pos / n_neg)`` over the labeled
    training DOCUMENTS (add-one on both classes so a single-class
    degenerate input stays finite instead of ±inf), dround(6)-pinned.
    One corpus-sized count agg; the result broadcasts."""
    return df.agg(
        dround(
            F.log(
                (F.sum(F.when(F.col(label_col), 1).otherwise(0)) + 1)
                .cast("double")
            )
            - F.log(
                (F.sum(F.when(F.col(label_col), 0).otherwise(1)) + 1)
                .cast("double")
            ),
            6,
        ).alias("prior")
    )


def nb_quality_scores(
    df: DataFrame,
    toks_col: str,
    id_col: str,
    model: DataFrame,
    prior: DataFrame,
) -> DataFrame:
    """Score documents against a (possibly frozen) NB quality model:
    ``(id, n_grams, logodds, prob)`` with

        logodds = prior + Σ over gram occurrences of wgt(bucket)
        prob    = 1 / (1 + exp(-logodds))        (the NB posterior)

    unseen buckets falling back to the model's ``dflt``. ``logodds``
    is dround(6)-pinned BEFORE the sigmoid so both engines
    exponentiate identical doubles; ``prob`` re-pins at 6. Keep
    ``prob >= 0.5`` (equivalently ``logodds >= 0``) for the
    classifier filter, or rank by it. The ≤``N_BUCKETS``-row model
    and the two 1-row scalars broadcast — scoring never shuffles
    anything but the per-doc agg (same plan as :func:`dsir_score`)."""
    rows = hashed_gram_rows(df, toks_col, id_col)
    dflt = model.agg(F.min("dflt").alias("dflt")).withColumn(
        "__k", _const_key(F.col("dflt"))
    )
    pri = prior.withColumn("__k", _const_key(F.col("prior")))
    rows_d = (
        rows.withColumn("__k", _const_key(F.col("bucket")))
        .join(F.broadcast(dflt), "__k")
        .join(F.broadcast(pri), "__k")
        .drop("__k")
    )
    scored = rows_d.join(
        F.broadcast(model.select("bucket", "wgt")), "bucket", "left"
    )
    logodds = dround(
        F.first("prior") + F.sum(F.coalesce(F.col("wgt"), F.col("dflt"))),
        6,
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        logodds.alias("logodds"),
        dround(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-logodds)), 6
        ).alias("prob"),
    )
