"""End-to-end test of the training-data prep pipeline
(yahoofinancedatalake_spark/prep.py): documents → quality → dedup →
decontaminate → split → chunk → pack, landed as parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.prep import exact_stage, near_dup_stage, run_prep

SF = "/root/testdata/sf0.001"


def drop_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    backend: str = "lsh",
) -> DataFrame:
    """Stages 2+3 — exact dedup, then near-dup cluster removal."""
    return near_dup_stage(exact_stage(docs, id_col), id_col, backend)


@pytest.fixture(scope="module")
def prep_out(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("prep"))
    counts = run_prep(spark, SF, root)
    return root, counts


def test_state_reads_run_no_job_and_keep_the_inferred_schema(
    spark, prep_out
):
    """Prep reads its landed tables with their footer schema: building
    the frame runs no Spark job, and the schema is the one Spark's
    inference job would give."""
    from tests.test_catalog import jobs_in_group
    from yahoofinancedatalake_spark.sources.parquet_io import read_parquet

    root, _ = prep_out
    sc = spark.sparkContext
    for table in (
        "dedup_survivors", "fingerprints", "band_index", "clean_docs",
        "chunks", "pack_manifest",
    ):
        path = f"{root}/{table}"
        df, n_jobs = jobs_in_group(
            sc, "state_reads", lambda: read_parquet(spark, path)
        )
        assert n_jobs == 0, (table, n_jobs)
        assert df.schema == spark.read.parquet(path).schema, table


def test_stage_counts_monotone(prep_out):
    _, c = prep_out
    assert (
        c["input"] >= c["quality_pass"] >= c["after_dedup"]
        >= c["after_decontam"] >= c["after_rebalance"]
    )
    assert c["after_rebalance"] > 0
    assert c["chunks"] >= c["after_rebalance"]  # every doc ≥ 1 chunk
    assert 0 < c["bins"] <= c["chunks"]


def test_no_contaminated_survivors(spark, prep_out):
    # re-running decontamination on the output must be a no-op
    from yahoofinancedatalake_spark.catalog import load_table
    from yahoofinancedatalake_spark.prep import decontaminate

    root, c = prep_out
    clean = spark.read.parquet(f"{root}/clean_docs")
    eval_set = load_table(spark, SF, "documents").filter(
        F.col("doc_id") % 37 == 0
    )
    assert decontaminate(clean, eval_set).count() == clean.count()


def test_rebalance_flattens_language_mix(spark, prep_out):
    """The head language's keep-rate must be strictly below the rare
    languages' (which approach 1.0), and the stage is deterministic."""
    from yahoofinancedatalake_spark.prep import (
        decontaminate,
        quality_gate,
        rebalance_languages,
    )
    from yahoofinancedatalake_spark.catalog import fan_out, load_table

    docs = fan_out(load_table(spark, SF, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 37 == 0)
    clean = decontaminate(drop_near_dups(quality_gate(docs)), eval_set)
    before = {r.lang: r.n for r in clean.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = rebalance_languages(clean)
    after = {r.lang: r.n for r in kept.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    rates = {k: after.get(k, 0) / before[k] for k in before}
    head = max(before, key=before.get)
    rare = min(before, key=before.get)
    assert rates[head] < rates[rare]
    assert rates[rare] > 0.8  # rarest language keeps ~everything
    # deterministic: identical row set on a second run
    again = sorted(r.doc_id for r in rebalance_languages(clean)
                   .select("doc_id").collect())
    assert again == sorted(r.doc_id for r in kept.select("doc_id").collect())


def test_chunks_shape(spark, prep_out):
    from yahoofinancedatalake_spark.queries.pack import _CHUNK_W

    root, _ = prep_out
    chunks = spark.read.parquet(f"{root}/chunks")
    assert set(chunks.columns) >= {
        "doc_id", "split", "source", "chunk_id", "n_chunk_tokens",
        "chunk_text",
    }
    bad = chunks.filter(
        (F.col("n_chunk_tokens") < 1)
        | (F.col("n_chunk_tokens") > _CHUNK_W)
        | (F.size(F.split("chunk_text", " ")) != F.col("n_chunk_tokens"))
    )
    assert bad.count() == 0
    assert {r.split for r in chunks.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_bins_contiguous_and_filled(spark, prep_out):
    root, _ = prep_out
    manifest = spark.read.parquet(f"{root}/pack_manifest")
    # bins within each (split, source) start at 0 and are contiguous
    per = (
        manifest.groupBy("split", "source")
        .agg(
            F.min("bin").alias("lo"),
            F.max("bin").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in per:
        assert r.lo == 0, r
        assert r.n == r.hi + 1, r
    assert manifest.filter(F.col("bin_tokens") <= 0).count() == 0


def test_prep_is_deterministic(spark, prep_out, tmp_path):
    root1, c1 = prep_out
    c2 = run_prep(spark, SF, str(tmp_path / "again"))
    assert c1 == c2
    a = spark.read.parquet(f"{root1}/pack_manifest")
    b = spark.read.parquet(f"{tmp_path}/again/pack_manifest")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("split", [0, 40])
def test_incremental_prep_matches_full_run(spark, tmp_path_factory, split):
    """Base run on history + incremental batch == full run over
    everything, through the dedup/decontam stages (the expensive
    history-touching ones) — provided the split has no cluster
    bridging two history docs through a batch doc (bridge merges are
    documented as accepted incremental drift). ``split`` is the first
    batch id; at 0 the history is empty and the whole corpus is one
    increment against the empty state a base run lands."""
    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.prep import (
        decontaminate,
        quality_gate,
        run_prep,
        run_prep_incremental,
    )

    docs = fan_out(load_table(spark, SF, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 37 == 0)
    hist = docs.filter(F.col("doc_id") < split)
    batch = docs.filter(F.col("doc_id") >= split)

    # ground truth: the full-run survivor set over everything
    full_clean = decontaminate(
        drop_near_dups(quality_gate(docs)), eval_set
    )
    full_ids = {r.doc_id for r in full_clean.select("doc_id").collect()}

    root = str(tmp_path_factory.mktemp("prep_incr"))
    base_counts = run_prep(
        spark, SF, root, eval_docs=eval_set, docs=hist
    )
    inc_counts = run_prep_incremental(spark, root, batch, eval_set)

    base_clean = decontaminate(
        drop_near_dups(quality_gate(hist)), eval_set
    )
    base_ids = {r.doc_id for r in base_clean.select("doc_id").collect()}
    inc_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{root}/clean_increments")
        .select("doc_id")
        .collect()
    }
    assert base_ids | inc_ids == full_ids
    assert base_ids.isdisjoint(inc_ids)
    assert bool(base_ids) == (split > 0)
    assert inc_counts["after_decontam"] == len(inc_ids)
    # state tables extended: next batch would see this one as history
    n_surv = spark.read.parquet(f"{root}/dedup_survivors").count()
    assert n_surv == base_counts["after_dedup"] + inc_counts["after_dedup"]


def test_seed_then_increment_counts_match_full(spark, tmp_path_factory):
    """seed_prep_state + run_prep_incremental per-stage sums == the
    full-recompute counts (the incremental_prep_counts query's
    construction, at test scale with an id-ordered split)."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.prep import (
        decontaminate,
        quality_gate,
        run_prep_incremental,
        seed_prep_state,
    )

    docs = fan_out(load_table(spark, SF, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 37 == 0)
    seed = docs.filter(F.col("doc_id") < 40)
    batch = docs.filter(F.col("doc_id") >= 40)

    root = str(tmp_path_factory.mktemp("seed_state"))
    s = seed_prep_state(spark, root, seed, eval_set)
    i = run_prep_incremental(spark, root, batch, eval_set)

    full_dd = drop_near_dups(quality_gate(docs))
    assert s["input"] + i["batch_input"] == docs.count()
    assert (
        s["quality_pass"] + i["quality_pass"]
        == quality_gate(docs).count()
    )
    assert s["after_dedup"] + i["after_dedup"] == full_dd.count()
    assert (
        s["after_decontam"] + i["after_decontam"]
        == decontaminate(full_dd, eval_set).count()
    )


def test_zero_row_increment_crash_invalidates_seal(
    spark, tmp_path_factory, monkeypatch
):
    """The append path must invalidate the old seal BEFORE the first
    append: a batch that dedups to ZERO
    rows leaves every sealed count unchanged, so a crash mid-landing
    would otherwise leave the stale seal trivially certifying a
    half-extended state."""
    import pytest

    from yahoofinancedatalake_spark import prep
    from yahoofinancedatalake_spark.catalog import fan_out, load_table

    docs = fan_out(load_table(spark, SF, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 37 == 0)
    hist = docs.filter(F.col("doc_id") < 40)
    # exact duplicates of history under new ids: every batch doc is
    # dropped at the fingerprint join, all state appends are 0-row
    dup_batch = hist.withColumn("doc_id", F.col("doc_id") + 100000)

    root = str(tmp_path_factory.mktemp("prep_seal_zero"))
    prep.seed_prep_state(spark, root, hist, eval_set)
    prep.verify_dedup_state(spark, root)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before re-seal")

    monkeypatch.setattr(prep, "_seal_dedup_state", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        prep.run_prep_incremental(spark, root, dup_batch, eval_set)
    monkeypatch.undo()

    # counts are coincidentally intact, but the seal must be GONE —
    # "seal present implies landing committed" has no exceptions
    with pytest.raises(RuntimeError, match="no manifest"):
        prep.verify_dedup_state(spark, root)


def test_incremental_refuses_half_landed_state(spark, tmp_path_factory):
    """Crash-safety of the state landing: the manifest is written
    LAST, so a landing that died between table writes (simulated by
    deleting the manifest, then by corrupting a table) must make the
    next increment fail loud instead of silently under-deduping."""
    import json
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.prep import (
        run_prep,
        run_prep_incremental,
        verify_dedup_state,
    )

    docs = fan_out(load_table(spark, SF, "documents"))
    eval_set = docs.filter(F.col("doc_id") % 37 == 0)
    hist = docs.filter(F.col("doc_id") < 40)
    batch = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))

    root = str(tmp_path_factory.mktemp("prep_seal"))
    run_prep(spark, SF, root, eval_docs=eval_set, docs=hist)
    verify_dedup_state(spark, root)  # freshly landed → passes

    manifest = f"{root}/dedup_state_manifest.json"
    # crash BEFORE the seal: no manifest at all
    os.rename(manifest, manifest + ".bak")
    with pytest.raises(RuntimeError, match="no manifest"):
        run_prep_incremental(spark, root, batch, eval_set)
    os.rename(manifest + ".bak", manifest)

    # crash MID-APPEND: a table no longer matches the sealed counts
    with open(manifest) as f:
        sealed = json.load(f)
    sealed["band_index"] += 7
    with open(manifest, "w") as f:
        json.dump(sealed, f)
    with pytest.raises(RuntimeError, match="inconsistent"):
        run_prep_incremental(spark, root, batch, eval_set)

    # restore the true counts → the increment runs and RE-SEALS
    run_prep(spark, SF, root, eval_docs=eval_set, docs=hist)
    run_prep_incremental(spark, root, batch, eval_set)
    verify_dedup_state(spark, root)  # post-append manifest matches
    shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Winnow and hybrid near-dup backends of near_dup_stage: same survivor
# policy, deterministic matchers.
# ---------------------------------------------------------------------------


def _planted_corpus(spark):
    """20 genuinely-distinct docs + a 3-doc near-dup clique (one
    appended token per variant). The perturbation trips BOTH backends'
    thresholds: word-3-gram Jaccard 23/24 ≈ 0.96 ≥ 0.9 (base↔variant)
    and 23/25 = 0.92 (variant↔variant); the ~7-char appended tail
    perturbs only the last w−1 winnow window-mins, so overlap
    coefficient stays ≥ ~0.8 ≥ 0.5. Every doc passes the quality gate
    (25+ tokens, ~200 chars)."""
    rows = []
    for i in range(20):
        text = " ".join(f"tok{i}_{j}" for j in range(25))
        rows.append((i, text, len(text)))
    base = " ".join(f"dup_{j} word{j}" for j in range(13))
    for did, tail in ((100, ""), (101, " extraA"), (102, " extraB")):
        t = base + tail
        rows.append((did, t, len(t)))
    return spark.createDataFrame(
        rows, "doc_id long, text string, n_chars int"
    )


def test_winnow_backend_matches_lsh_on_planted_near_dups(spark):
    docs = _planted_corpus(spark)
    lsh = {r.doc_id for r in drop_near_dups(docs, backend="lsh").collect()}
    win = {
        r.doc_id for r in drop_near_dups(docs, backend="winnow").collect()
    }
    expected = set(range(20)) | {100}  # clique keeper = min id
    assert lsh == expected
    assert win == expected


def test_unknown_near_dup_backend_raises(spark):
    from yahoofinancedatalake_spark.prep import near_dup_stage

    docs = _planted_corpus(spark)
    with pytest.raises(ValueError, match="unknown near-dup backend"):
        near_dup_stage(docs, backend="simhash")


def test_hybrid_backend_matches_winnow_on_planted_near_dups(spark):
    """near_dup_stage(backend='hybrid') keeps the same survivors as
    the winnow backend on planted near-dups the LSH stage proposes."""
    docs = _planted_corpus(spark)
    hyb = {
        r.doc_id for r in drop_near_dups(docs, backend="hybrid").collect()
    }
    assert hyb == set(range(20)) | {100}


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    """paragraph_dedup keeps the globally-first occurrence of each
    paragraph (min (id, pos)), drops later ones (cross- AND
    within-doc), reassembles in order, and excludes zero-token docs."""
    from yahoofinancedatalake_spark.operators.dedup import (
        paragraph_dedup,
    )

    rows = [
        (1, "a b c d e f"),        # paras "a b c","d e f" — all first
        (2, "a b c x y z"),        # "a b c" dups doc1 pos0
        (3, "d e f a b c d e f"),  # every para a later duplicate
        (4, ""),                   # no tokens → excluded
    ]
    d = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: (r["n_paras"], r["n_kept"], r["chars_removed"],
                  r["new_text"])
        for r in paragraph_dedup(d, "text", "id", para_words=3).collect()
    }
    assert out == {
        1: (2, 2, 0, "a b c d e f"),
        2: (2, 1, 5, "x y z"),
        3: (3, 0, 15, ""),
    }


def test_paragraph_stage_rewrites_and_drops_emptied(spark):
    """prep.paragraph_stage rewrites text to the surviving paragraph
    stream, recomputes n_chars, preserves schema/column order, and
    drops docs left empty."""
    from yahoofinancedatalake_spark import prep

    rows = [
        (1, " ".join(f"w{i}" for i in range(prep.PARA_WORDS * 2)), "en",
         "s1", 0),
        # doc 2 = doc 1's first paragraph + its own tail paragraph
        (2, " ".join(f"w{i}" for i in range(prep.PARA_WORDS)) + " " +
         " ".join(f"t{i}" for i in range(prep.PARA_WORDS)), "en",
         "s1", 0),
        # doc 3 = exactly doc 1's two paragraphs → emptied, dropped
        (3, " ".join(f"w{i}" for i in range(prep.PARA_WORDS * 2)), "en",
         "s1", 0),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars int"
    )
    out = prep.paragraph_stage(d)
    assert out.columns == d.columns
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2}
    tail = " ".join(f"t{i}" for i in range(prep.PARA_WORDS))
    assert got[2]["text"] == tail
    assert got[2]["n_chars"] == len(tail)
    assert got[1]["n_chars"] == len(got[1]["text"])


def test_run_prep_paragraph_flag(spark, tmp_path):
    """run_prep(paragraph_level=True) inserts the stage between
    near-dup and decontamination: the count ledger gains
    after_paragraph with after_dedup >= after_paragraph >=
    after_decontam-compatible monotonicity."""
    from yahoofinancedatalake_spark import prep
    from yahoofinancedatalake_spark.catalog import fan_out, load_table

    docs = fan_out(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    counts = prep.run_prep(
        spark, "/root/testdata/sf0.001", str(tmp_path / "p"),
        docs=docs, paragraph_level=True,
    )
    assert "after_paragraph" in counts
    order = ["input", "quality_pass", "after_dedup", "after_paragraph",
             "after_decontam", "after_rebalance"]
    vals = [counts[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert counts["after_paragraph"] > 0


def test_state_tables_complete_after_each_increment(
    spark, tmp_path_factory
):
    """Every dedup survivor must have band-index rows after EVERY
    increment, and a near-dup pair spanning two increments must be
    caught by the second one (r13 regression guard: a cached batch
    band table whose lineage read root/fingerprints was invalidated
    by the fingerprint APPEND — the write's refreshByPath — and the
    recompute saw the batch's own fingerprints as history, appending
    ZERO band rows; the next increment then under-deduped)."""
    import tempfile

    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.prep import (
        run_prep_incremental,
        seed_prep_state,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    mk = lambda i, tail: (  # noqa: E731
        i, f"{base} {tail}", "en", "src1", len(base) + len(tail) + 1
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    # seed: two unrelated docs; inc1: doc 10 (unique); inc2: doc 20,
    # a NEAR-DUP of doc 10 (one trailing token differs)
    seed = spark.createDataFrame(
        [mk(0, "zero unique suffix here now"), mk(1, "one other tail words go")],
        schema,
    )
    inc1 = spark.createDataFrame([mk(10, "shared ending tail one")], schema)
    inc2 = spark.createDataFrame([mk(20, "shared ending tail two")], schema)
    eval_set = spark.createDataFrame([], schema)

    root = str(tmp_path_factory.mktemp("state_complete"))
    seed_prep_state(spark, root, seed, eval_set)
    run_prep_incremental(spark, root, inc1, eval_set)
    surv1 = {
        r.doc_id
        for r in spark.read.parquet(f"{root}/dedup_survivors").collect()
    }
    idx1 = {
        r.doc_id
        for r in spark.read.parquet(f"{root}/band_index")
        .select("doc_id").distinct().collect()
    }
    assert 10 in surv1
    assert surv1 - idx1 == set(), "survivors missing from band index"
    c2 = run_prep_incremental(spark, root, inc2, eval_set)
    # doc 20 is a near-dup of history doc 10 -> must be dropped
    assert c2["after_dedup"] == 0
    surv2 = {
        r.doc_id
        for r in spark.read.parquet(f"{root}/dedup_survivors").collect()
    }
    assert 20 not in surv2


def test_parquet_count_refuses_ambiguous_table_dirs(spark, tmp_path):
    """A state table directory the seal cannot count faithfully must
    raise, not seal or verify a silent count: one with no part files
    (a write that died before committing any), and one whose rows sit
    in subdirectories a top-level count would miss."""
    from yahoofinancedatalake_spark.prep import _parquet_count

    with pytest.raises(FileNotFoundError):
        _parquet_count(str(tmp_path / "absent"))

    no_parts = tmp_path / "no_parts"
    no_parts.mkdir()
    (no_parts / "_SUCCESS").write_text("")
    with pytest.raises(RuntimeError, match="not a flat parquet table"):
        _parquet_count(str(no_parts))

    flat = str(tmp_path / "flat")
    spark.range(5).write.parquet(flat)
    assert _parquet_count(flat) == 5
    spark.range(3).write.parquet(f"{flat}/nested=1")
    with pytest.raises(RuntimeError, match="subdirectories"):
        _parquet_count(flat)
