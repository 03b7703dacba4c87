"""Replication scale sweep — the evidence protocol behind SURVEY §8.

Replicates a query's input table N× with remapped ids into /tmp and
reports warm wall-clock at 1× / 10× / 100×, so "would this plan hold
at 100× the data?" is a measurement, not an assertion. Documents keep
their ``source`` values under replication, so per-domain operators
(e.g. ``domain_cap_sample``) face domains 100× past their caps — the
skew case their two-pass formulations exist for.

Usage::

    python tools/scale_sweep.py [sf_dir] [query ...]

With no queries given, runs the round-6 statistics family. Each query
must read exactly one of the mapped tables; extend ``TABLE_OF`` when
sweeping a new one.

Two replica flavors (VERDICT r8 #2): by default replicas are exact
copies with remapped ids — the right shape for per-domain caps and
group-key skew, but the prep pipeline's cheap 16-byte exact-dedup
stage collapses them before LSH ever sees them, so an exact-replica
sweep of ``prep_stage_counts`` measures the exact stage, not the
bucketed-LSH claim. Sweep names suffixed ``_neardup`` (e.g.
``prep_stage_counts_neardup``) instead append a replica-salted token
to each replica's text: replicas become NEAR-duplicates (word-3-gram
Jaccard (w-2)/(w-1) ≥ 18/19 to their original for the ≥20-token docs
that pass the quality gate — above the 0.9 verify threshold), so the
exact stage keeps them all and the LSH → verify → connected-components
stack faces factor-sized cliques (the mirror-site/boilerplate
scenario). True pair volume per clique is O(factor²) BY CONSTRUCTION
— the sweep reports LSH candidate volume and bucket-cap overflow per
factor so "cost scales with real pair volume, never all-pairs" is
measured, not asserted.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from yahoofinancedatalake_spark.queries.pack import QUERIES  # noqa: E402
from yahoofinancedatalake_spark.session import get_spark  # noqa: E402

#: query -> (table it reads, id column to remap per replica)
TABLE_OF = {
    "mannwhitney_drift": ("events", "event_id"),
    "chi2_independence": ("events", "event_id"),
    "stream_chi2_drift_batch_eq": ("events", "event_id"),
    "benford_digits": ("lineitem", "l_orderkey"),
    "domain_cap_sample": ("documents", "doc_id"),
    # value jitter (3rd element): replicas get per-(row, replica)
    # hash-jittered `value` so parity/sparsity filters over per-day
    # SUMS stay populated — see replicate()
    "range_frame_trailing_7d": ("events", "event_id", "value"),
    # r7: the r6 tail additions (VERDICT r6 item #4)
    "theilsen_trend_daily": ("events", "event_id"),
    "theilsen_trend_sampled": ("events", "event_id"),
    "mann_kendall_trend": ("events", "event_id"),
    "cusum_changepoint": ("events", "event_id"),
    "pareto_frontier": ("part", "p_partkey"),
    "editdist_blocked_join": ("customer", "c_custkey"),
    "psi_drift": ("events", "event_id"),
    "js_divergence_corpora": ("documents", "doc_id"),
    "seasonal_decompose_daily": ("events", "event_id"),
    "seasonal_anomaly_days": ("events", "event_id"),
    # r8: the two r7 entries VERDICT flagged unswept
    "ann_ndcg": ("embeddings", "vec_id"),
    "stream_psi_drift_batch_eq": ("events", "event_id"),
    # r8 additions: replicated documents are 100x exact duplicates
    # (same text, remapped ids), so this also demonstrates the
    # pipeline collapsing a 100x-duplicated corpus at the cheap
    # exact stage before LSH ever sees it
    "prep_stage_counts": ("documents", "doc_id"),
    # r10: winnow-backend composed gate — exact replicas collapse at
    # the exact stage before the winnow matcher sees them (same
    # protocol reading as prep_stage_counts); the matcher's own
    # jittered stress row is winnow_near_dup_neardup
    "prep_stage_counts_winnow": ("documents", "doc_id"),
    "top_flop_for_symbol": ("events", "event_id"),
    "type_window_daily_drill": ("events", "event_id"),
    # r8: the r7-head wave that never got sweep rows
    "heavy_hitters_2pass": ("orders", "o_orderkey"),
    "hybrid_rrf_search": ("documents", "doc_id"),
    "trend_ols_daily": ("events", "event_id"),
    "ngram_novelty": ("documents", "doc_id"),
    "audience_overlap": ("events", "event_id"),
    # r9: incremental prep gate (seed + increment vs full recompute)
    "incremental_prep_counts": ("documents", "doc_id"),
    # r9: winnowing fingerprint family — exact replicas exercise the
    # extraction (per-row narrow, should scale linearly). For the
    # matcher the O(factor²)-clique reading holds only while factor
    # <= df_cap (the 10× point: every replica group is a clique of
    # overlap-1.0 pairs); at 100× every fingerprint's df is 100× its
    # original, ABOVE the df_cap=64, so all posting lists are dropped
    # and the matcher deterministically returns 0 pairs at flat cost —
    # the 100× cell measures the cap collapsing a corpus that is one
    # giant mirror, not clique pair volume (SURVEY §8 documents this;
    # the non-degenerate 100× evidence is winnow_near_dup_neardup).
    "winnow_fingerprints": ("documents", "doc_id"),
    "winnow_near_dup": ("documents", "doc_id"),
    # r9 session close: the two ranked-retrieval scorers (linear
    # corpus scans per query set — the indexed bm25/ANN tables are
    # the production path, these are the exact rescore kernels).
    # semantic_dedup deliberately NOT swept: its k is fixed at 8 for
    # the oracle replay, and exact-replica vectors at 100x make each
    # cluster O(100x) with quadratic within-cluster pairs — the
    # paper's posture (k scales with the corpus, LAION runs k~11k)
    # is documented on the query instead.
    "bm25_rank": ("documents", "doc_id"),
    "text_search_rank": ("documents", "doc_id"),
    # r10 second wave: the quality/selection additions. gopher is a
    # per-row HOF projection (should scale linearly with rows);
    # unimax is one map-side-partial agg feeding an n_langs-row
    # window; dsir_ess is the dsir count shuffle + two scalar aggs.
    "gopher_quality_rules": ("documents", "doc_id"),
    "unimax_mixture": ("documents", "doc_id"),
    "dsir_ess": ("documents", "doc_id"),
    # r11: the NB classifier is dsir-shaped (one gram-count shuffle
    # trains, a <=4096-row broadcast scores) — should scale like
    # dsir_ess; the funnel variant composes it with already-swept
    # stages
    "quality_classifier_select": ("documents", "doc_id"),
    # r12: paragraph dedup — exact replicas make every replica's
    # every paragraph a duplicate of the original's (winner = the
    # min-id original), so the 100x cell decides 100x the paragraphs
    # with ~99% of them losers: the keep-first join and the
    # reassembly both face their worst duplicate ratio
    "paragraph_dedup": ("documents", "doc_id"),
    # r13 (VERDICT r12 #6 "measure parallelism where work exceeds
    # fixed overhead"): the online-DSIR streaming rung under corpus
    # growth — seed-model train + two foreachBatch-scored increments
    # all scale with the corpus, so this cell measures the rung where
    # the micro-batch engine's fixed floor no longer dominates. The
    # two incremental-prep streamers are deliberately NOT swept: their
    # batch twin incremental_prep_counts (above) already sweeps the
    # identical seed+increment machinery, and the only streaming
    # addition — availableNow delivery — is corpus-independent.
    "stream_dsir_score_batch_eq": ("documents", "doc_id"),
}

#: TABLE_OF entries run as .count() instead of .collect(): their
#: output is corpus-sized (per-doc rewritten text for
#: paragraph_dedup) — a driver collect at 100x would measure result
#: serialization (and trip maxResultSize), not the operator.
COUNT_ONLY = {
    "paragraph_dedup",
    # r13: pair/cluster outputs are clique-sized under near-dup
    # replication (~25M pair rows at the 100x cell) — a driver
    # collect would measure result serialization, not the matcher
    "minhash_near_dup",
    "dedup_clusters",
}

#: Sweep aliases whose replicas are NEAR-duplicates (replica-salted
#: token appended to ``text_col``) instead of exact copies — the LSH
#: stress shape. Maps sweep name -> (registered query, table, id_col,
#: text_col). These also report LSH candidate volume + bucket-cap
#: overflow per factor (see module docstring).
NEARDUP_OF = {
    "prep_stage_counts_neardup": (
        "prep_stage_counts", "documents", "doc_id", "text"
    ),
    # r10 (VERDICT r9 #3): the winnow matcher under jittered replicas.
    # The ~22-char salt tail perturbs only the last w-1 window-min
    # selections, so replica↔original overlap stays >= ~0.8 for any
    # doc long enough to carry >= 2(w-1) fingerprints — well above
    # the 0.5 threshold — and the matcher faces factor-sized REAL
    # near-dup cliques. The df-cap is scaled with the factor for this
    # sweep (see winnow_stats/main): a 100-doc clique shares
    # fingerprints at df≈100, above the registered query's pinned
    # cap of 64 — MOSS's own posture is a boilerplate threshold
    # proportional to the corpus, so the sweep runs cap=64×factor
    # (identical to the oracle-gated query at 1×) and reports pair
    # volume, candidate volume, and capped-fingerprint counts.
    "winnow_near_dup_neardup": (
        "winnow_near_dup", "documents", "doc_id", "text"
    ),
    # r11 (VERDICT r10 #3): the hybrid matcher under the same
    # jittered-replica shape, with the df-cap scaled like the pure
    # winnow sweep's. The claim under test: LSH bounds the pair
    # universe, so the 100× cell — which the pure winnow matcher
    # could not run un-sharded on this box (~8 B candidate rows,
    # ~200 GB spill) — completes at LSH-stack candidate volume.
    "hybrid_near_dup_neardup": (
        "hybrid_near_dup", "documents", "doc_id", "text"
    ),
    # r13 (VERDICT r12 #3): the candidate-touched verify restriction
    # under factor-sized near-dup cliques. The claim under test: the
    # Jaccard verify side is the candidate-TOUCHED doc set (bounded
    # by 2x candidate pairs), never the corpus — the sweep cell
    # reports touched_docs vs n_docs per factor alongside wall-clock,
    # so "verify scales with duplicate volume, not corpus" is a
    # measured row, not an assertion.
    "minhash_near_dup_neardup": (
        "minhash_near_dup", "documents", "doc_id", "text"
    ),
    "dedup_clusters_neardup": (
        "dedup_clusters", "documents", "doc_id", "text"
    ),
}

#: r11 (VERDICT r10 #5): the pure winnow matcher's 100× point,
#: MEASURED by sharding the pair-generation join into fingerprint-hash
#: slices run sequentially (partial (id_a,id_b,shared) aggregates land
#: per slice; one final reduce sums them) — each slice carries ~1/S of
#: the ~200 GB spill that killed the one-shot run, which is exactly
#: the per-node spill a production cluster absorbs in parallel.
WINNOW_SHARDED = "winnow_near_dup_sharded100"

#: r10 (VERDICT r9 #5): corpus-scaled SemDeDup sweep. Exact-replica
#: embeddings at factor f put every replica group (identical vectors,
#: cosine 1.0) in one cluster, so within-cluster pair volume is the
#: real near-dup volume — and with k = auto_semdedup_k(N) scaling
#: with the corpus (the paper's posture; 334 at the 100× point vs the
#: oracle-pinned k=8 of the gated query), cluster sizes stay ~600 and
#: sum(cluster_size²) stays N·~600 instead of N²/8. The runner is
#: semantic_dedup_scaled (FAISS-placement capped training +
#: vectorized assignment — the fully-distributed SQL-replayable
#: trainer's (comp ⋈ centroids) join would materialize N·dim·k =
#: 4.3 B rows at 100×); stats (k, candidate volume, max cluster)
#: derive from the per-cluster rollup the operator returns.
SEMDEDUP_SCALED = "semantic_dedup_scaledk"


def semdedup_scaled_query(spark, d):
    from yahoofinancedatalake_spark.catalog import load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.similarity import (  # noqa: PLC0415
        semantic_dedup_scaled,
    )

    emb = load_table(spark, d, "embeddings")
    return semantic_dedup_scaled(emb)  # k=None → auto_semdedup_k(N)

DEFAULT = [
    "mannwhitney_drift",
    "chi2_independence",
    "benford_digits",
    "domain_cap_sample",
]


def replicate(
    spark, sf_dir, table, factor, id_col, workdir, jitter_col=None,
    text_salt=None,
):
    import os  # noqa: PLC0415

    out = f"{workdir}/{table}_{factor}"
    base = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # multi-table queries (e.g. a scalar count off a dim table) read
    # the OTHER tables at 1x — symlink them in so only the mapped
    # table scales; the question under test is "does the plan hold
    # when ITS fact grows", not "do all inputs grow together".
    # Targets must be absolute: a relative sf_dir argv would otherwise
    # yield links dangling relative to the /tmp workdir.
    os.makedirs(out, exist_ok=True)
    from yahoofinancedatalake_spark.schemas import TESTDATA_TABLES  # noqa: PLC0415

    for t in TESTDATA_TABLES:
        dst = f"{out}/{t}.parquet"
        if t != table and not os.path.lexists(dst):
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), dst)
    df = base
    for i in range(1, factor):
        rep = base.withColumn(
            id_col, F.col(id_col) + F.lit(i * 10_000_000_000)
        )
        if jitter_col is not None:
            # per-(row, replica) hash jitter: a constant per-replica
            # shift cancels out of parity/sparsity filters over daily
            # SUMS at even factors (sum over replicas of a fixed shift
            # is factor*(factor-1)/2 * shift — even at 100x)
            rep = rep.withColumn(
                jitter_col,
                F.col(jitter_col)
                + F.pmod(
                    F.xxhash64(F.col(id_col), F.lit(i)), F.lit(100)
                )
                * 0.01,
            )
        if text_salt is not None:
            # append ONE replica-salted token: replica i of doc d is a
            # near-dup (not an exact dup) of d and of every other
            # replica of d — the LSH stress shape (see module
            # docstring). One token keeps word-3-gram Jaccard to the
            # original at (w-2)/(w-1) — above the 0.9 verify threshold
            # for every quality-gate survivor (w ≥ 20).
            rep = rep.withColumn(
                text_salt,
                F.concat(
                    F.col(text_salt),
                    F.lit(" zzrep"),
                    F.lower(F.hex(F.xxhash64(F.col(id_col), F.lit(i)))),
                ),
            )
        df = df.unionByName(rep)
    df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


def lsh_stats(spark, d, table="documents", id_col="doc_id", gated=True):
    """Instrumentation for the near-dup sweeps: candidate-pair volume
    and bucket-cap overflow of the EXACT pipeline stage the swept
    query runs (quality gate → exact dedup → capped LSH banding), so
    the SURVEY §8 row can show candidate volume growing with factor
    while wall-clock stays bounded by real pair volume.

    ``gated=False`` (r13) skips the quality/exact stages for the
    queries that band the raw corpus directly (``minhash_near_dup``,
    ``dedup_clusters``) and additionally reports the candidate-TOUCHED
    doc count vs the corpus doc count — the verify side the r12
    restriction reads vs what the pre-r12 code re-shingled."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        _bucket_id_pairs,
        capped_bucket_members,
        minhash_band_table,
    )
    from yahoofinancedatalake_spark.prep import exact_stage, quality_gate  # noqa: PLC0415

    docs = fan_out(load_table(spark, d, table))
    if gated:
        docs = exact_stage(quality_gate(docs))
    banded = minhash_band_table(
        docs, "text", id_col, n_hashes=32, n_bands=8, shingle_n=3
    )
    buckets = capped_bucket_members(banded, id_col, 512).persist()
    cands = None
    try:
        overflow = buckets.agg(F.sum("n_dropped").alias("d")).collect()[0][
            "d"
        ] or 0
        cands = _bucket_id_pairs(buckets).dropDuplicates(
            ["id_a", "id_b"]
        ).persist()
        n_cands = cands.count()
        out = {"lsh_candidates": n_cands, "bucket_overflow": int(overflow)}
        if not gated:
            out["touched_docs"] = (
                cands.select(
                    F.explode(F.array("id_a", "id_b")).alias(id_col)
                )
                .dropDuplicates([id_col])
                .count()
            )
            out["n_docs"] = docs.count()
    finally:
        if cands is not None:
            cands.unpersist()
        buckets.unpersist()
    return out


def winnow_query_scaled(spark, d, factor):
    """The registered ``winnow_near_dup`` plan with the df-cap scaled
    to the corpus (cap = 64×factor): MOSS's boilerplate threshold is
    proportional to the corpus, and the jittered sweep's factor-sized
    cliques share fingerprints at df≈factor — a fixed cap of 64 would
    (correctly, but degenerately) zero the 100× cell. Identical to the
    oracle-gated query at factor 1."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        winnow_near_dup_pairs,
    )
    from yahoofinancedatalake_spark.queries.pack_14_prep_serving import (  # noqa: PLC0415
        _WIN_CAP,
        _WIN_K,
        _WIN_T,
        _WIN_W,
    )

    docs = fan_out(load_table(spark, d, "documents"))
    return winnow_near_dup_pairs(
        docs,
        "text",
        "doc_id",
        k=_WIN_K,
        w=_WIN_W,
        df_cap=_WIN_CAP * factor,
        overlap_threshold=_WIN_T,
    ).orderBy("id_a", "id_b")


def hybrid_query_scaled(spark, d, factor):
    """The registered ``hybrid_near_dup`` plan with the winnow df-cap
    scaled to the corpus (cap = 64×factor — same rationale as
    :func:`winnow_query_scaled`); identical to the oracle-gated query
    at factor 1."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        hybrid_near_dup_pairs,
    )
    from yahoofinancedatalake_spark.queries.pack_14_prep_serving import (  # noqa: PLC0415
        _HYB_T,
        _WIN_CAP,
        _WIN_K,
        _WIN_W,
    )

    docs = fan_out(load_table(spark, d, "documents"))
    return hybrid_near_dup_pairs(
        docs,
        "text",
        "doc_id",
        k=_WIN_K,
        w=_WIN_W,
        df_cap=_WIN_CAP * factor,
        overlap_threshold=_HYB_T,
    )


def hybrid_stats(spark, d, factor):
    """Instrumentation for the hybrid sweep: the LSH candidate volume
    the verify stage actually scores (the operator's own banding
    config on the raw corpus — NOT lsh_stats' prep-gated variant) plus
    the pure-winnow candidate arithmetic for the structural contrast
    column."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        minhash_lsh_pairs,
    )

    docs = fan_out(load_table(spark, d, "documents"))
    cands = minhash_lsh_pairs(docs, "text", "doc_id").count()
    return {
        "lsh_candidates": cands,
        **{f"winnow_{k}": v for k, v in winnow_stats(spark, d, factor).items()},
    }


def winnow_sharded_count(spark, d, factor, workdir, n_shards=8):
    """The pure winnow matcher at a factor whose one-shot spill
    exceeds the box: pair generation runs in ``n_shards`` sequential
    fingerprint-hash slices (``pmod(xxhash64(fp), S) = s``), each
    landing its partial ``(id_a, id_b, shared)`` aggregate to
    parquet; one final reduce sums the partials, joins the UNCAPPED
    sizes, and applies the overlap threshold. Slicing on the
    FINGERPRINT is exact: every (pair, shared-fp) contribution lands
    in exactly one slice, so sum-of-partials equals the un-sharded
    ``shared``. The df-cap and the accept rule are the operator's own
    (``dedup._df_capped``, ``dedup._overlap_accept``); the accepted
    ``(id_a, id_b, shared, overlap)`` pairs land under
    ``{workdir}/pairs``. Returns (pair_count, per-slice seconds,
    reduce seconds)."""
    import gc  # noqa: PLC0415
    import time as _t  # noqa: PLC0415

    from pyspark.sql import functions as FF  # noqa: PLC0415

    from yahoofinancedatalake_spark.catalog import fan_out, load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        _df_capped,
        _doc_freq,
        _overlap_accept,
        winnow_fingerprints,
    )
    from yahoofinancedatalake_spark.queries.pack_14_prep_serving import (  # noqa: PLC0415
        _WIN_CAP,
        _WIN_K,
        _WIN_T,
        _WIN_W,
    )

    cap = _WIN_CAP * factor
    docs = fan_out(load_table(spark, d, "documents"))
    # land the raw fingerprint table FIRST and derive everything from
    # the read-back: the interpreted md5-HOF extraction re-evaluates
    # the per-gram regexp_replace on every pass, and the un-landed
    # plan computes it three times (both join sides of the df-capped
    # index, plus the sizes) — measured 20+ min/pass at the 100×
    # point (jstack: all 32 workers in RegExpReplace.nullSafeEval)
    winnow_fingerprints(
        docs, "text", "doc_id", k=_WIN_K, w=_WIN_W
    ).write.mode("overwrite").parquet(f"{workdir}/fps")
    fps = spark.read.parquet(f"{workdir}/fps")
    idx = fps.select(FF.col("doc_id"), FF.explode("fps").alias("fp"))
    sizes = fps.select("doc_id", FF.size("fps").alias("n_fp"))
    kept = idx.join(
        _df_capped(_doc_freq(idx), cap).hint("shuffle_hash"), "fp"
    ).select("doc_id", "fp")
    kept.write.mode("overwrite").parquet(f"{workdir}/kept_idx")
    sizes.write.mode("overwrite").parquet(f"{workdir}/sizes")
    kept = spark.read.parquet(f"{workdir}/kept_idx")
    slice_secs = []
    for s in range(n_shards):
        ks = kept.filter(
            FF.pmod(FF.xxhash64(FF.col("fp")), FF.lit(n_shards)) == s
        )
        a = ks.select(FF.col("doc_id").alias("id_a"), "fp")
        b = ks.select(FF.col("doc_id").alias("id_b"), "fp")
        part = (
            a.join(b.hint("shuffle_hash"), "fp")
            .filter(FF.col("id_a") < FF.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(FF.count("*").alias("shared"))
        )
        t0 = _t.time()
        part.write.mode("overwrite").parquet(f"{workdir}/part_{s}")
        slice_secs.append(round(_t.time() - t0, 1))
        print(f"  shard {s}: {slice_secs[-1]}s", flush=True)
        # Release the finished shard's shuffle files NOW: Spark keeps
        # them for plan reuse until the driver GCs the shuffle
        # dependencies, and 8 shards × ~20 GB of retained shuffle is
        # exactly the disk the sharding exists to avoid (the first
        # sharded run died ENOSPC in the final REDUCE with all 8
        # shards' spill still on disk). Python ref first, then the
        # JVM GC that lets ContextCleaner unlink the files.
        del part
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    # The reduce is sliced too (4 sequential id_a-hash sub-reduces):
    # the landed partials total ~34 GB at the 100× point and a
    # one-shot groupBy over them ENOSPC'd with 41 GB free — the same
    # disk arithmetic as the pair-gen shards, one level up. Slicing
    # on id_a is exact: a pair's partials all share its id_a.
    t0 = _t.time()
    parts = spark.read.parquet(
        *[f"{workdir}/part_{s}" for s in range(n_shards)]
    )
    sz = spark.read.parquet(f"{workdir}/sizes")
    sa = sz.select(FF.col("doc_id").alias("id_a"), FF.col("n_fp").alias("n_a"))
    sb = sz.select(FF.col("doc_id").alias("id_b"), FF.col("n_fp").alias("n_b"))
    n_slices = 4
    for i in range(n_slices):
        p = parts.filter(
            FF.pmod(FF.xxhash64(FF.col("id_a")), FF.lit(n_slices)) == i
        )
        pairs = p.groupBy("id_a", "id_b").agg(
            FF.sum("shared").alias("shared")
        )
        _overlap_accept(
            pairs.join(sa.hint("shuffle_hash"), "id_a")
            .join(sb.hint("shuffle_hash"), "id_b"),
            _WIN_T,
        ).write.mode("overwrite" if i == 0 else "append").parquet(
            f"{workdir}/pairs"
        )
        spark.sparkContext._jvm.System.gc()
    n = spark.read.parquet(f"{workdir}/pairs").count()
    reduce_sec = round(_t.time() - t0, 1)
    return n, slice_secs, reduce_sec


def winnow_stats(spark, d, factor):
    """Instrumentation for the winnow near-dup sweep (the analog of
    :func:`lsh_stats`): candidate-pair volume sum(df·(df−1)/2) over
    kept fingerprints — the join work the matcher actually does — and
    the df-cap drop counts, so the SURVEY §8 row shows cost scaling
    with real pair volume while the cap bounds posting lists."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table  # noqa: PLC0415
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        _doc_freq,
        winnow_fingerprints,
    )
    from yahoofinancedatalake_spark.queries.pack_14_prep_serving import (  # noqa: PLC0415
        _WIN_CAP,
        _WIN_K,
        _WIN_W,
    )

    cap = _WIN_CAP * factor
    docs = fan_out(load_table(spark, d, "documents"))
    fps = winnow_fingerprints(docs, "text", "doc_id", k=_WIN_K, w=_WIN_W)
    dfreq = _doc_freq(fps.select(F.explode("fps").alias("fp")))
    row = dfreq.agg(
        F.sum(
            F.when(
                (F.col("df") >= 2) & (F.col("df") <= cap),
                F.col("df") * (F.col("df") - 1) / 2,
            )
        ).alias("cand"),
        F.count(F.when(F.col("df") > cap, 1)).alias("capped"),
        F.count(F.when(F.col("df") == 1, 1)).alias("singleton"),
    ).collect()[0]
    return {
        "df_cap": cap,
        "candidate_volume": int(row["cand"] or 0),
        "fps_capped": int(row["capped"]),
        "fps_singleton": int(row["singleton"]),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT
    spark = get_spark("scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="scale_sweep_")
    results: dict = {}
    for qn in names:
        if qn == SEMDEDUP_SCALED:
            real_q, table, id_col, salt, jitter = (
                None, "embeddings", "vec_id", None, None,
            )
        elif qn == WINNOW_SHARDED:
            real_q, table, id_col, salt, jitter = (
                None, "documents", "doc_id", "text", None,
            )
        elif qn in NEARDUP_OF:
            real_q, table, id_col, salt = NEARDUP_OF[qn]
            jitter = None
        else:
            spec = TABLE_OF[qn]
            real_q, table, id_col = qn, spec[0], spec[1]
            jitter = spec[2] if len(spec) > 2 else None
            salt = None
        # The winnow jittered sweep tops out at 30×: factor-sized
        # cliques cost the matcher ~f² per original near-dup pair
        # TIMES ~40 shared fingerprints per pair, so the 100× cell
        # is ~8 B candidate rows whose partial-agg spill (~200 GB)
        # exceeds this box's /tmp — measured: the one-shot 100× run
        # died ENOSPC at ~80 GB free. A production node carries that
        # much shuffle disk; the 30× cell (~725 M candidates) shows
        # the same output-bound scaling across 2.9 orders of
        # candidate growth. SURVEY §8 records the arithmetic.
        factors = (
            (1, 10, 30) if qn == "winnow_near_dup_neardup"
            else (100,) if qn == WINNOW_SHARDED
            else (1, 10, 100)
        )
        for factor in factors:
            d = replicate(
                spark, sf_dir, table, factor, id_col, workdir, jitter,
                text_salt=salt,
            )
            if qn == WINNOW_SHARDED:
                # single timed pass, no warm-up twin: each shard job
                # is tens-of-GB spill territory — the measurement IS
                # the sharded protocol, cold parquet and all
                t0 = time.time()
                pairs, slice_secs, reduce_sec = winnow_sharded_count(
                    spark, d, factor, workdir
                )
                cell = {
                    "sec": round(time.time() - t0, 1),
                    "pairs": pairs,
                    "n_shards": len(slice_secs),
                    "slice_secs": slice_secs,
                    "reduce_sec": reduce_sec,
                    **winnow_stats(spark, d, factor),
                }
                results.setdefault(qn, {})[factor] = cell
                print(f"{qn} x{factor}: {cell}", flush=True)
                spark.catalog.clearCache()
                continue
            if qn == SEMDEDUP_SCALED:
                def run(d=d):
                    return semdedup_scaled_query(spark, d).collect()
            elif qn == "hybrid_near_dup_neardup":
                # COUNT, don't collect — same rationale as the winnow
                # jittered sweep below
                def run(d=d, factor=factor):
                    return hybrid_query_scaled(spark, d, factor).count()
            elif qn == "winnow_near_dup_neardup":
                # COUNT, don't collect: factor-sized cliques mean
                # ~24M true pairs at 100× — a driver collect would
                # measure result serialization (and trip
                # maxResultSize), not the matcher. The oracle-gated
                # query itself returns pairs; production lands them
                # to a table the same way.
                def run(d=d, factor=factor):
                    return winnow_query_scaled(spark, d, factor).count()
            else:
                def run(d=d, real_q=real_q):
                    frame = QUERIES[real_q].spark(spark, d)
                    if real_q in COUNT_ONLY:
                        return frame.count()
                    return frame.collect()
            # Untimed warm-up per (query, factor): one-time plan/codegen
            # and the cold page cache of the freshly written replica
            # would otherwise inflate exactly the scaling ratios this
            # sweep exists to measure.
            run()
            t0 = time.time()
            rows = run()
            dt = round(time.time() - t0, 2)
            if qn == SEMDEDUP_SCALED:
                sizes = [r["n_members"] for r in rows]
                cell = {
                    "sec": dt,
                    "k": len(rows),
                    "candidate_volume": sum(
                        m * (m - 1) // 2 for m in sizes
                    ),
                    "max_cluster": max(sizes) if sizes else 0,
                    "n_dups": sum(r["n_dups"] for r in rows),
                }
            elif qn == "winnow_near_dup_neardup":
                cell = {
                    "sec": dt,
                    "pairs": rows,  # run() counts for this alias
                    **winnow_stats(spark, d, factor),
                }
            elif qn == "hybrid_near_dup_neardup":
                cell = {
                    "sec": dt,
                    "pairs": rows,  # run() counts for this alias
                    **hybrid_stats(spark, d, factor),
                }
            elif salt is not None:
                cell = {
                    "sec": dt,
                    **lsh_stats(
                        spark, d, table, id_col,
                        # these two band the raw corpus (no prep
                        # gates) and their claim is the touched-doc
                        # verify bound — see lsh_stats
                        gated=real_q
                        not in ("minhash_near_dup", "dedup_clusters"),
                    ),
                }
            else:
                cell = dt
            results.setdefault(qn, {})[factor] = cell
            n_rows = rows if isinstance(rows, int) else len(rows)
            print(f"{qn} x{factor}: {cell} ({n_rows} rows)", flush=True)
            # The operators release what they cache, but a cell's
            # timing must not depend on anything this sweep cached
            # before it (ADVICE r9: up to 6 corpus-sized tables once
            # accumulated across cells) — bench.py clears, so do we.
            spark.catalog.clearCache()
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
