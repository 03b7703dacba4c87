"""Training-data prep pipeline: documents → model-ready pack manifest.

The medallion pipeline (:mod:`yahoofinancedatalake_spark.pipeline`)
re-expresses the reference's financial DAG; this module is its
LLM-training-data sibling — the end-to-end composition of the engine's
training-data operators into one deterministic Spark job:

    documents
      → quality gate        (length/stopword heuristics, map-side)
      → exact dedup         (16-byte content fingerprint, one shuffle)
      → near-dup removal    (MinHash-LSH candidates → hashed-Jaccard
                             verify → connected components → keep
                             the min-id doc per cluster)
      → decontamination     (drop docs sharing an n-gram with the
                             benchmark/eval set — md5 equi-join)
      → language rebalance  (temperature sampling: per-language keep
                             rate (n_min/n_l)^0.7 via the md5 gate)
      → split assignment    (deterministic md5 hash → train/val/test)
      → chunking            (overlapping token windows, map-side)
      → sequence packing    (context-bin manifest per (split, source))

Every stage is the SAME operator the oracle-gated query pack verifies
(imported from :mod:`..queries.pack` / :mod:`..operators.dedup`), so
the pipeline's correctness is inherited from the driver gate rather
than re-proven here; ``tests/test_prep.py`` asserts the composition
(counts monotone, no contaminated survivors, determinism across runs).

Dedup has one sequence (:func:`_dedup_and_land`): a full run is an
increment against an empty state, and every run lands the state
(survivors, fingerprints, LSH band index, sealed by a manifest) that
the next increment dedups against.

Scale shape: stages 1, 5, 6 are narrow map-side transforms; the wide
exchanges are exact-dedup's fingerprint agg, LSH's bucket shuffle, the
components' one group-by per star-contraction step (O(log n) steps on
any cluster diameter), the contamination hash join (eval side
broadcast), and packing's per-(split, source) window — each documented
at its operator. Nothing collects to the driver except the stage counts
and one observed open-node count per components step.

Run: ``python pipeline.py prep --root /tmp/prep [--sf-dir .../sf0.01]``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.session import boundary_scope, stage_boundary

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.sources.parquet_io import read_parquet

#: Quality gate thresholds (the text_quality query's length gate).
MIN_TOKENS = 20
MIN_CHARS = 100

#: Split fractions over the md5 hash space (the train_split_assign
#: query's 80/10/10 boundaries).
SPLIT_BOUNDS = (("train", "cd"), ("val", "e6"), ("test", None))


def _word_tokens():
    from yahoofinancedatalake_spark.queries.pack import _word_toks  # noqa: PLC0415

    return _word_toks()


def quality_gate(docs: DataFrame) -> DataFrame:
    """Stage 1 — keep docs passing the length gate (map-side)."""
    toks = _word_tokens()
    return (
        docs.withColumn("__n_tokens", F.size(toks))
        .filter(
            (F.col("__n_tokens") >= MIN_TOKENS)
            & (F.col("n_chars") >= MIN_CHARS)
        )
        .drop("__n_tokens")
    )


def exact_stage(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stage 2 — exact dedup (min-id keeper per content fingerprint).

    Runs first because it is one cheap 16-byte-fingerprint aggregation
    and shrinks the LSH input for the near-dup stage.
    """
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        exact_dedup,
    )

    return exact_dedup(docs, "text", id_col)


def near_dup_stage(
    exact: DataFrame,
    id_col: str = "doc_id",
    backend: str = "lsh",
) -> DataFrame:
    """Stage 3 — near-dup cluster removal over exact-dedup survivors:
    verified pairs from the selected matcher → connected components →
    anti-join away every node that is not its cluster's min id (the
    deterministic keeper — identical survivor policy for every
    backend).

    ``backend`` only picks the candidate generator; each is one
    generator → verify sequence in ``operators/dedup.py``, at the
    parameters of its gated query:

    - ``"lsh"`` (default): ``verified_near_dup_pairs`` with no history
      — MinHash-LSH candidates, hashed-Jaccard verify at
      ``dedup.JACCARD_THRESHOLD``.
    - ``"winnow"``: ``winnow_near_dup_pairs`` — the df-capped
      winnowed-fingerprint self-join proposes and counts shared
      fingerprints, the overlap accept rule (overlap >= 0.5)
      decides. Fully
      deterministic — the df-cap depends only on (fingerprint,
      document frequency) — so its composed gate
      (``prep_stage_counts_winnow``) needs no candidate-rewrite oracle
      machinery.
    - ``"hybrid"``: ``hybrid_near_dup_pairs`` — MinHash-LSH proposes,
      the overlap verify (fingerprint-set intersection, then the same
      accept rule at overlap >= 0.6) decides, so LSH bounds the pair
      universe. Deterministic like "winnow".

    Every backend materializes what its matcher reads twice with
    ``stage_boundary`` and leaves no cached table behind; the result
    is lazy.

    The LSH-vs-winnow thresholds are NOT the same policy (Jaccard
    0.9 exact-ish replicas vs overlap-coefficient 0.5 substring
    containment); the equivalence pytest plants near-dups that trip
    both.

    Precondition (shared by "lsh" and "hybrid"): docs whose
    normalized text is empty/whitespace-only carry no MinHash
    signature, so LSH-proposed backends never pair two of them — the
    pure "winnow" backend would (overlap 1.0 on the empty fingerprint
    set). Irrelevant in this pipeline because :func:`exact_stage` runs
    first and collapses every empty-text group to its min-id keeper.
    """
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        hybrid_near_dup_pairs,
        verified_near_dup_pairs,
        winnow_near_dup_pairs,
    )

    matchers = {
        "lsh": lambda: verified_near_dup_pairs(exact, id_col),
        "winnow": lambda: winnow_near_dup_pairs(exact, "text", id_col),
        "hybrid": lambda: hybrid_near_dup_pairs(exact, "text", id_col),
    }
    if backend not in matchers:
        raise ValueError(
            f"unknown near-dup backend {backend!r} (lsh|winnow|hybrid)"
        )
    losers = _component_losers(matchers[backend](), id_col)
    return exact.join(losers, id_col, "left_anti")


def _component_losers(
    verified: DataFrame,
    id_col: str = "doc_id",
    survivors: DataFrame | None = None,
) -> DataFrame:
    """Connected components of the verified pairs → the ids to drop:
    every non-min member of a component and, when history
    ``survivors`` are given, every member of a component that holds a
    history doc (history is immutable, and its keeper precedes any
    batch id). Known incremental drift: a batch doc that BRIDGES two
    history clusters cannot retro-drop history, where a full
    recompute would keep one fewer doc."""
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        connected_components,
    )

    comps = connected_components(verified)
    lose = F.col("node") != F.col("component")
    if survivors is not None:
        old = survivors.select(F.col(id_col).alias("node"))
        tainted = (
            comps.join(F.broadcast(old), "node", "left_semi")
            .select("component")
            .distinct()
            .withColumn("__tainted", F.lit(True))
        )
        comps = comps.join(F.broadcast(tainted), "component", "left")
        lose = lose | F.col("__tainted").isNotNull()
    return comps.filter(lose).select(F.col("node").alias(id_col))


#: paragraph unit for paragraph_stage on the no-newline synthetic
#: corpus (the gated paragraph_dedup query's parameter).
PARA_WORDS = 20


def paragraph_stage(
    docs: DataFrame,
    id_col: str = "doc_id",
    para_words: int = PARA_WORDS,
) -> DataFrame:
    """Stage 3b (off by default) — PARAGRAPH-granularity dedup
    (Lee et al. 2022; Dolma's paragraph dedup): after the doc-level
    matchers have decided whole documents, duplicated paragraphs
    *inside* the survivors are collapsed to their first occurrence
    corpus-wide and each doc's text is rewritten to its surviving
    paragraph stream (the gated ``paragraph_dedup`` query's operator
    at its exact parameters). Docs whose every paragraph was a later
    duplicate — and docs with no tokens at all — drop out entirely;
    ``n_chars`` is recomputed so the downstream datasheet/packing
    stages see the rewritten corpus honestly. Runs BETWEEN near-dup
    removal and decontamination, where the published pipelines put
    it."""
    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        paragraph_dedup,
    )

    rewritten = paragraph_dedup(
        docs, "text", id_col,
        para_words=para_words, tokens=_word_tokens(),
    ).select(id_col, F.col("new_text").alias("text"))
    keep = [c for c in docs.columns if c not in ("text", "n_chars")]
    out = (
        docs.select(*keep)
        .join(rewritten, id_col)
        .filter(F.length("text") > 0)
    )
    if "n_chars" in docs.columns:
        out = out.withColumn(
            "n_chars",
            F.length("text").cast(dict(docs.dtypes)["n_chars"]),
        )
    return out.select(*docs.columns)


def decontaminate(
    docs: DataFrame, eval_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Stage 4 — drop docs sharing any n-gram with the eval set.

    Same kernel as the ``contamination_ngrams`` query: both sides emit
    lowercase word n-grams, only md5 hashes ride the shuffle, eval side
    broadcasts (benchmarks are small).
    """
    from yahoofinancedatalake_spark.queries.pack import _CONTAM_N  # noqa: PLC0415

    def grams(d: DataFrame) -> DataFrame:
        base = (
            d.select("doc_id", _word_tokens().alias("toks"))
            .withColumn("n", F.size("toks"))
            .filter(F.col("n") >= _CONTAM_N)
        )
        return base.select(
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

    ev = grams(eval_docs).select("g").distinct()
    contaminated = (
        grams(docs).join(F.broadcast(ev), "g").select("doc_id").distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti")


def rebalance_languages(
    docs: DataFrame, exponent: float = 0.7, lang_col: str = "lang"
) -> DataFrame:
    """Stage 4b — temperature-based language rebalancing (the
    temperature_sampling query's rule): per-language keep rate
    ``(n_min/n_lang)^exponent``, so the rarest language keeps
    everything and the head is downsampled toward balance
    (exponent = 1 - alpha; 0.7 ≈ the multilingual alpha=0.3 recipe).
    Membership is the deterministic md5 gate with the data-derived
    rate turned into a 4-hex-digit cutoff string — identical row set
    on every run, engine, and partitioning. One count-shuffle; the
    5-row rate table broadcasts; the gate itself is map-side."""
    counts = docs.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n_total"))
    w_all = Window.partitionBy()
    rates = counts.select(
        lang_col,
        F.pow(
            F.min("n_total").over(w_all).cast("double") / F.col("n_total"),
            F.lit(exponent),
        ).alias("rate"),
    ).withColumn(
        "rate_u16", F.floor(F.col("rate") * 65536).cast("bigint")
    )
    # rate ≥ 1 → cutoff 'g': every 4-hex-digit prefix sorts below it,
    # so the rarest language really keeps everything. (floor(1.0·65536)
    # = 65536 = '10000' would be TRUNCATED by lpad(4) to '1000' and
    # silently keep only 1/16 of the stratum — both engines agreed on
    # the truncation, so only the semantic test caught it.)
    cutoff = F.when(F.col("rate_u16") >= 65536, F.lit("g")).otherwise(
        F.lower(F.lpad(F.hex(F.col("rate_u16")), 4, "0"))
    )
    h = F.substring(
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                     F.col(lang_col))
        ), 1, 4,
    )
    return (
        docs.join(F.broadcast(rates), lang_col)
        .filter(h < cutoff)
        .drop("rate", "rate_u16")
    )


def assign_splits(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stage 5 — deterministic content-free split: first hex byte of
    md5(id) against the 80/10/10 boundaries (the train_split_assign
    query's rule; free map-side expression, stable across runs and
    cluster sizes)."""
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    expr = F.when(h < SPLIT_BOUNDS[0][1], SPLIT_BOUNDS[0][0]).when(
        h < SPLIT_BOUNDS[1][1], SPLIT_BOUNDS[1][0]
    ).otherwise(SPLIT_BOUNDS[2][0])
    return docs.withColumn("split", expr)


def chunk_docs(docs: DataFrame) -> DataFrame:
    """Stage 6 — overlapping token-window chunks (the doc_chunking
    query's transform, carrying split/source through)."""
    from yahoofinancedatalake_spark.queries.pack import (  # noqa: PLC0415
        _CHUNK_S,
        _CHUNK_W,
    )

    base = (
        docs.select("doc_id", "split", "source", _word_tokens().alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
    )
    ex = base.select(
        "doc_id",
        "split",
        "source",
        "toks",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_S))
        ).alias("st"),
    )
    return ex.select(
        "doc_id",
        "split",
        "source",
        (F.col("st") / _CHUNK_S).cast("long").alias("chunk_id"),
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("st"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("st") + 1, F.lit(_CHUNK_W)), " "
        ).alias("chunk_text"),
    )


def pack_chunks(chunks: DataFrame) -> DataFrame:
    """Stage 7 — context-bin manifest: contiguous fill per
    (split, source) in (doc_id, chunk_id) order (the sequence_packing
    query's rule over chunks instead of whole docs)."""
    from yahoofinancedatalake_spark.queries.pack import _PACK_BUDGET  # noqa: PLC0415

    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = chunks.withColumn("cum", F.sum("n_chunk_tokens").over(w))
    return (
        c.withColumn(
            "bin",
            F.floor(
                (F.col("cum") - F.col("n_chunk_tokens")) / F.lit(_PACK_BUDGET)
            ).cast("bigint"),
        )
        .groupBy("split", "source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


#: The three incremental-dedup state tables, in landing order.
_STATE_TABLES = ("dedup_survivors", "fingerprints", "band_index")


def _state_manifest_path(root: str) -> str:
    return f"{root}/dedup_state_manifest.json"


def _parquet_count(path: str) -> int:
    """Row count of a landed parquet table from its FOOTERS — no
    Spark job. Sums ``metadata.num_rows`` over the part files, which
    is exactly the number a ``spark.read.parquet(path).count()``
    returns (the footers are the writers' own committed row counts);
    a metadata read per file costs ~1 ms where a Spark count pays a
    full job's scheduling floor.

    Fails loudly instead of returning a silent count: a missing table
    raises ``FileNotFoundError`` like the Spark read would, and a
    table directory with no part files (a write that died before
    committing any) or with subdirectories (partitions whose rows a
    top-level count would miss) raises ``RuntimeError``."""
    import os  # noqa: PLC0415

    import pyarrow.parquet as pq  # noqa: PLC0415

    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    entries = list(os.scandir(path))
    subdirs = [e.name for e in entries if e.is_dir()]
    files = [
        e.path for e in entries
        if e.name.endswith(".parquet") and not e.name.startswith((".", "_"))
    ]
    if subdirs or not files:
        raise RuntimeError(
            f"state table {path} is not a flat parquet table "
            f"(part files: {len(files)}, subdirectories: {subdirs})"
        )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _seal_dedup_state(spark: SparkSession, root: str) -> dict[str, int]:
    """Write the state manifest LAST — the commit record for the
    three-table landing. Counts are parquet-metadata reads (footer
    row counts), so sealing is cheap at any corpus size. The seal is
    itself atomic (temp file + rename): truncating the previous
    manifest in place would leave a zero-byte file if the process
    died mid-write, turning the designed recovery error into a raw
    JSONDecodeError."""
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    counts = {t: _parquet_count(f"{root}/{t}") for t in _STATE_TABLES}
    path = _state_manifest_path(root)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(counts, f)
    os.replace(tmp, path)
    return counts


def verify_dedup_state(spark: SparkSession, root: str) -> dict[str, int]:
    """Check the landed state is COMPLETE before deduping a batch
    against it. The three tables land in separate writes; a crash
    between them leaves e.g. fingerprints without a band index, and
    an increment run against that silently under-dedups (near-dups
    of history docs missing from the index would all survive). The
    manifest is written last, after every table, so its presence +
    matching row counts certify the landing committed. Raises with a
    recovery hint otherwise."""
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    path = _state_manifest_path(root)
    if not os.path.exists(path):
        raise RuntimeError(
            f"dedup state at {root} has no manifest — a prior "
            "run_prep/run_prep_incremental did not complete its state "
            "landing; re-run run_prep to rebuild the state"
        )
    with open(path) as f:
        sealed = json.load(f)
    actual = {t: _parquet_count(f"{root}/{t}") for t in _STATE_TABLES}
    if actual != sealed:
        raise RuntimeError(
            f"dedup state at {root} is inconsistent with its manifest "
            f"(sealed={sealed}, actual={actual}) — a state write "
            "crashed mid-landing; re-run run_prep to rebuild"
        )
    return actual


@boundary_scope()
def _dedup_and_land(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    counts: dict[str, int],
    eval_docs: DataFrame | None,
    fresh: bool,
) -> None:
    """The one dedup-and-land sequence behind :func:`run_prep`,
    :func:`seed_prep_state` and :func:`run_prep_incremental`. History
    takes part ONLY through the landed state tables, never through a
    corpus re-scan:

    1. quality gate
    2. exact dedup within the batch, then against the history
       fingerprints
    3. LSH candidates against the history band index
    4. touched-doc Jaccard verify over history survivors ∪ batch
    5. connected components with the history-taint loser rule
    6. append to the state and seal

    ``fresh=True`` is the batch run: it starts from an empty state —
    the old seal, state tables and ``clean_increments`` are removed
    first — and steps 2–5 run with no history at all, so the batch
    pays nothing for it. Otherwise the sealed state is verified first
    (:func:`verify_dedup_state`). With ``eval_docs`` the deduped batch
    is also decontaminated and appended to ``clean_increments`` before
    the seal. Stage counts (``quality_pass``, ``after_exact``,
    ``after_dedup``, ``after_decontam``) are added to ``counts``.

    Every frame the appends read is lineage-truncated
    (:func:`stage_boundary`) before the first append: a lazy plan
    re-executed after an append to the table it reads would see the
    batch as its own history and drop everything. Those boundaries
    are released when the call returns (:func:`boundary_scope`):
    nothing it returns reads them.
    """
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from yahoofinancedatalake_spark.operators.dedup import (  # noqa: PLC0415
        minhash_band_table,
        normalized_text,
        verified_near_dup_pairs,
    )

    def fingerprint(frame: DataFrame) -> DataFrame:
        return frame.withColumn(
            "fingerprint", F.md5(normalized_text(F.col("text")))
        )

    def drop_seal() -> None:
        try:
            os.remove(_state_manifest_path(root))
        except FileNotFoundError:
            pass

    if fresh:
        drop_seal()
        for t in (*_STATE_TABLES, "clean_increments"):
            shutil.rmtree(f"{root}/{t}", ignore_errors=True)
        index = survivors = None
    else:
        verify_dedup_state(spark, root)
        index = read_parquet(spark, f"{root}/band_index")
        survivors = read_parquet(spark, f"{root}/dedup_survivors")

    held: list[DataFrame] = []  # persisted stage frames, released below
    try:
        gated = quality_gate(docs).persist()
        held.append(gated)
        counts["quality_pass"] = gated.count()
        exact = exact_stage(gated)
        if survivors is not None:
            history_fp = read_parquet(spark, f"{root}/fingerprints")
            exact = (
                fingerprint(exact)
                .join(F.broadcast(history_fp.select("fingerprint")),
                      "fingerprint", "left_anti")
                .drop("fingerprint")
            )
        # consumed by the band table, the verify side and the loser
        # anti-join; released once the survivors are materialized
        exact = exact.persist()
        held.append(exact)
        counts["after_exact"] = exact.count()
        # the batch's band table, computed once: it feeds the
        # candidate stage and the band-index append
        bands = stage_boundary(minhash_band_table(
            exact, "text", "doc_id", n_hashes=32, n_bands=8, shingle_n=3
        ))
        losers = _component_losers(
            verified_near_dup_pairs(exact, "doc_id", bands, index, survivors),
            "doc_id",
            survivors,
        )
        deduped = exact.join(losers, "doc_id", "left_anti").transform(
            stage_boundary
        )
        counts["after_dedup"] = deduped.count()
    finally:
        for frame in held:
            frame.unpersist()

    clean = None
    if eval_docs is not None:
        clean = decontaminate(deduped, eval_docs).transform(stage_boundary)
        counts["after_decontam"] = clean.count()

    # Invalidate the seal BEFORE the first append: "seal present
    # implies the landing committed" must hold even for a batch whose
    # appends leave every sealed count unchanged (a zero-row batch).
    drop_seal()
    deduped.write.mode("append").parquet(f"{root}/dedup_survivors")
    fingerprint(deduped).select("doc_id", "fingerprint").write.mode(
        "append"
    ).parquet(f"{root}/fingerprints")
    # the survivors' band rows are the batch band table filtered to
    # them (a deterministic per-doc map — the rows a recompute emits)
    bands.join(deduped.select("doc_id"), "doc_id", "left_semi").write.mode(
        "append"
    ).parquet(f"{root}/band_index")
    if clean is not None:
        clean.write.mode("append").parquet(f"{root}/clean_increments")
    _seal_dedup_state(spark, root)


def seed_prep_state(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    eval_docs: DataFrame,
) -> dict[str, int]:
    """Seed the incremental-prep state from an initial corpus WITHOUT
    the full-run packing stages: the first increment, run against an
    empty state (:func:`_dedup_and_land`). Use this when the
    downstream rebalance/split/chunk/pack stages belong to a later
    periodic rebuild — the seed-then-increment shape the gated
    ``incremental_prep_counts`` query verifies. Returns per-stage
    counts (``input``, ``quality_pass``, ``after_exact``,
    ``after_dedup``, ``after_decontam``).
    """
    counts: dict[str, int] = {"input": docs.count()}
    _dedup_and_land(spark, root, docs, counts, eval_docs, fresh=True)
    return counts


def run_prep(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    eval_docs: DataFrame | None = None,
    docs: DataFrame | None = None,
    paragraph_level: bool = False,
) -> dict[str, int]:
    """Run the whole prep DAG and land each stage under ``root``.

    Dedup is the batch run of the incremental sequence
    (:func:`_dedup_and_land` against an empty state), so the landed
    state (survivors + fingerprints + LSH band index) lets
    :func:`run_prep_incremental` process future batches against this
    run's history. Every later stage reads the LANDED survivors, so
    the dedup subgraph never re-executes.

    ``paragraph_level=True`` inserts :func:`paragraph_stage` between
    near-dup removal and decontamination — sub-document dedup that
    rewrites survivors' text to their first-occurrence paragraph
    stream (Lee et al. 2022 / Dolma); off by default so existing
    composed gates keep their committed counts.

    ``eval_docs`` defaults to the corpus rows with ``doc_id % 37 = 0``
    (the contamination_ngrams query's stand-in benchmark); pass a real
    benchmark table in production. ``docs`` overrides the input frame
    (defaults to the full documents table). Returns per-stage row
    counts.
    """
    if docs is None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
    eval_set = (
        eval_docs
        if eval_docs is not None
        else docs.filter(F.col("doc_id") % 37 == 0)
    )

    counts: dict[str, int] = {"input": docs.count()}
    _dedup_and_land(spark, root, docs, counts, None, fresh=True)
    deduped = read_parquet(spark, f"{root}/dedup_survivors")

    held: list[DataFrame] = []  # persisted stage frames, released below
    try:
        if paragraph_level:
            deduped = paragraph_stage(deduped).persist()
            held.append(deduped)
            counts["after_paragraph"] = deduped.count()

        clean = decontaminate(deduped, eval_set).persist()
        held.append(clean)
        counts["after_decontam"] = clean.count()

        rebalanced = rebalance_languages(clean)
        counts["after_rebalance"] = rebalanced.count()

        split = assign_splits(rebalanced)
        split.write.mode("overwrite").partitionBy("split").parquet(
            f"{root}/clean_docs"
        )
    finally:
        for frame in held:
            frame.unpersist()

    # partitioned tables are read back with their schema: an empty
    # corpus lands no partition directory to infer one from
    chunks = chunk_docs(
        spark.read.schema(split.schema).parquet(f"{root}/clean_docs")
    )
    chunks.write.mode("overwrite").partitionBy("split").parquet(
        f"{root}/chunks"
    )
    chunks = spark.read.schema(chunks.schema).parquet(f"{root}/chunks")
    counts["chunks"] = chunks.count()

    manifest = pack_chunks(chunks)
    manifest.write.mode("overwrite").parquet(f"{root}/pack_manifest")
    counts["bins"] = read_parquet(spark, f"{root}/pack_manifest").count()
    return counts


def run_prep_incremental(
    spark: SparkSession,
    root: str,
    new_docs: DataFrame,
    eval_docs: DataFrame,
) -> dict[str, int]:
    """Process an ingest batch against the landed prep state — the
    daily-increment shape (:func:`_dedup_and_land` against the sealed
    history). Refuses a half-landed state.

    Policy (matches the full run's min-id keeper, given history ids
    precede batch ids): a new doc is dropped if its exact fingerprint
    exists in history; a new doc survives near-dup removal only if its
    component contains no history doc and it is the component's min
    id. The decontaminated batch lands appended in
    ``clean_increments``; the state tables are extended so the next
    batch sees this one as history. Rebalance/split/chunk/pack stay
    full-run stages — sampling rates are corpus-distribution-derived
    and belong to a periodic rebuild, not a per-batch decision.
    """
    counts: dict[str, int] = {"batch_input": new_docs.count()}
    _dedup_and_land(spark, root, new_docs, counts, eval_docs, fresh=False)
    return counts
