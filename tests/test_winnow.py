"""Winnowing fingerprint tests (Schleimer/Wilkerson/Aiken SIGMOD'03).

Pins: exact equality vs the pure-Python reference (including the
short-doc fallbacks), the paper's detection guarantee (shared
substring >= k+w-1 chars ⇒ shared fingerprint), the density bound,
and the near-dup matcher's determinism/cap/threshold semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.dedup_refs import ref_winnow_fingerprints
from yahoofinancedatalake_spark.operators.dedup import (
    winnow_fingerprints,
    winnow_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the afternoon sun and everything is calm"
)
NEAR = BASE.replace("afternoon", "evening")
FAR = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        # case/whitespace variant — normalizes to BASE exactly
        (2, "  THE  quick brown fox jumps over the lazy dog while the "
            "cat watches from a warm windowsill in the afternoon sun "
            "and everything is calm"),
        (3, NEAR),
        (4, FAR),
        (5, "tiny"),          # shorter than k → single md5(norm)
        (6, "exactly twenty one!!"),  # len 20-ish: > k, fewer grams than w
        (7, "   "),           # whitespace-only → norm = ""
        # tab/newline-EDGED: Spark trim strips only 0x20, so the edge
        # tab/newline collapses to a LEADING/TRAILING space in norm —
        # the case where str.strip() in the reference would diverge
        (8, "\t" + BASE + "\n"),
        (9, "\n\t  mixed\tinternal\nws\x0bdoc body here  \t"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def _fps_map(docs, k=16, w=8):
    out = winnow_fingerprints(docs, "text", "id", k=k, w=w).collect()
    return {r["id"]: set(r["fps"]) for r in out}


def test_matches_python_reference(spark, docs):
    got = _fps_map(docs)
    want = {
        r["id"]: ref_winnow_fingerprints(r["text"])
        for r in docs.collect()
    }
    assert got == want
    # short-doc fallbacks produce exactly one fingerprint
    assert len(got[5]) == 1
    assert len(got[7]) == 1
    # tab/newline-edged doc is NOT the normalized twin of BASE: the
    # edge tab/newline survives Spark trim and becomes a leading/
    # trailing space, shifting every k-gram — and the reference agrees
    assert got[8] != got[1]


def test_normalization_makes_fingerprints_identical(spark, docs):
    got = _fps_map(docs)
    assert got[1] == got[2]


def test_shared_substring_guarantee(spark):
    """Any shared substring of length >= k+w-1 yields a shared
    fingerprint — the paper's correctness property, exercised with a
    shared run embedded at different offsets in otherwise-different
    texts."""
    k, w = 16, 8
    shared = "this exact run of characters is common to both documents"
    assert len(shared) >= k + w - 1
    a = "left padding words here " + shared + " and unrelated tail alpha"
    b = "totally other prefix content " + shared + " different ending"
    d = spark.createDataFrame([(1, a), (2, b)], "id long, text string")
    got = _fps_map(d, k=k, w=w)
    assert got[1] & got[2]


def test_density_bound(spark, docs):
    """n_fp <= number of windows, and (loosely) near the 2/(w+1)
    expectation on non-degenerate text."""
    k, w = 16, 8
    row = (
        winnow_fingerprints(docs.filter("id = 1"), "text", "id", k=k, w=w)
        .select(F.size("fps").alias("n"))
        .collect()[0]
    )
    norm_len = len(" ".join(BASE.split()))
    n_windows = norm_len - k + 1 - w + 1
    assert 1 <= row["n"] <= n_windows


def test_near_dup_pairs_semantics(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["overlap"]
        for r in winnow_near_dup_pairs(docs, "text", "id").collect()
    }
    # the exact normalized duplicate pairs at overlap 1.0
    assert pairs[(1, 2)] == 1.0
    # near-dup (one word changed) pairs with both copies
    assert (1, 3) in pairs and (2, 3) in pairs
    assert 0.5 <= pairs[(1, 3)] < 1.0
    # FAR doc pairs with nothing
    assert not any(4 in p for p in pairs)


def test_df_cap_drops_boilerplate(spark):
    """A fingerprint present in more docs than df_cap generates no
    pairs; docs relate only through below-cap fingerprints."""
    boiler = "all rights reserved by the example corporation anytime"
    rows = [(i, f"unique document body number {i} " + boiler)
            for i in range(10)]
    d = spark.createDataFrame(rows, "id long, text string")
    capped = winnow_near_dup_pairs(
        d, "text", "id", df_cap=5, overlap_threshold=0.1
    ).count()
    uncapped = winnow_near_dup_pairs(
        d, "text", "id", df_cap=64, overlap_threshold=0.1
    ).count()
    assert uncapped == 45  # all 10 docs share the boilerplate run
    assert capped == 0  # every shared fingerprint sits above the cap


def test_bad_params_raise():
    with pytest.raises(ValueError):
        winnow_fingerprints(None, "text", "id", k=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(None, "text", "id", w=0)


# ---------------------------------------------------------------------------
# Hypothesis property: operator == pure-Python reference on generated
# text, batched into ONE Spark job per example set (the
# test_properties.py convention). Repetitive alphabets ("aaaa…")
# deliberately provoke within-window k-gram hash ties — the case the
# position-free variant exists to make tie-rule-independent.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_TEXTS = st.lists(
    st.text(
        # tiny alphabet → ties; tab/newline included so generated text
        # can be whitespace-EDGED (the trim-vs-strip divergence case)
        alphabet=st.sampled_from(list("ab z.\t\n")),
        max_size=60,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(_TEXTS)
def test_operator_matches_reference_on_generated_text(spark, texts):
    k, w = 4, 3  # small params so 60-char texts exercise many windows
    rows = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: set(r["fps"])
        for r in winnow_fingerprints(d, "text", "id", k=k, w=w).collect()
    }
    for i, t in rows:
        assert got[i] == ref_winnow_fingerprints(t, k=k, w=w), (i, t)


# ---------------------------------------------------------------------------
# Fast-kernel twin (numpy polynomial family)
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

from yahoofinancedatalake_spark.operators.dedup import (  # noqa: E402
    _fmix64,
    winnow_fingerprints_fast,
)


def _ref_winnow_fast(text: str, k: int = 16, w: int = 8) -> set[int]:
    """Pure-Python twin of the numpy kernel (independent loop code).

    Normalization mirrors Spark's ``normalized_text`` exactly: trim is
    0x20-only and \\s is the ASCII Java class — see
    ``ref_winnow_fingerprints``.
    """
    import re

    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    b = norm.encode("utf-8")
    B = 1099511628211
    M = 1 << 64
    if len(b) == 0:
        g = [0]
    elif len(b) >= k:
        g = []
        for i in range(len(b) - k + 1):
            acc = 0
            for c in b[i: i + k]:
                acc = (acc * B + c) % M
            g.append(acc)
    else:
        acc = 0
        for c in b:
            acc = (acc * B + c) % M
        g = [acc]
    g = [int(x) for x in _fmix64(np.array(g, dtype=np.uint64))]
    m = len(g)
    mins = {min(g[j: j + w]) for j in range(max(m - w + 1, 1))}
    return {x - (1 << 64) if x >= 1 << 63 else x for x in mins}  # int64 view


def test_fast_kernel_matches_python_twin(spark, docs):
    got = {
        r["id"]: set(r["fps"])
        for r in winnow_fingerprints_fast(docs, "text", "id").collect()
    }
    for r in docs.collect():
        assert got[r["id"]] == _ref_winnow_fast(r["text"]), r["id"]


def test_fast_family_same_near_dups_on_fixture(spark, docs):
    """On the fixture docs both families agree on the near-dup pairs
    (they are far from the threshold) — the corpus-level agreement is
    gated by the winnow_fast_accuracy driver query."""
    fast = winnow_near_dup_pairs(
        docs, "text", "id",
        fingerprints=winnow_fingerprints_fast(docs, "text", "id"),
    )
    md5 = winnow_near_dup_pairs(docs, "text", "id")
    assert (
        {(r.id_a, r.id_b) for r in fast.collect()}
        == {(r.id_a, r.id_b) for r in md5.collect()}
    )


def test_hybrid_equals_winnow_at_gate_threshold(spark):
    """The hybrid matcher (LSH proposes, winnow decides) equals the
    pure winnow matcher at the gated 0.6 threshold on a planted
    corpus whose near-dups are real high-similarity pairs — the
    hybrid_near_dup gate's premise, pinned in-process."""
    from yahoofinancedatalake_spark.operators.dedup import (
        hybrid_near_dup_pairs,
    )

    rows = [
        (i, " ".join(f"uniq{i}_{j} filler{j}" for j in range(20)))
        for i in range(12)
    ]
    base = " ".join(f"dup_{j} word{j}" for j in range(15))
    rows += [(100, base), (101, base + " tailA"), (102, base + " tailB")]
    d = spark.createDataFrame(rows, "id long, text string")
    hyb = {
        (r["id_a"], r["id_b"], r["shared"], r["overlap"])
        for r in hybrid_near_dup_pairs(d, "text", "id").collect()
    }
    win = {
        (r["id_a"], r["id_b"], r["shared"], r["overlap"])
        for r in winnow_near_dup_pairs(
            d, "text", "id", overlap_threshold=0.6
        ).collect()
    }
    assert hyb == win
    # the clique is actually found (the equality is not vacuous)
    assert {(a, b) for a, b, _, _ in hyb} == {
        (100, 101), (100, 102), (101, 102)
    }


def test_hybrid_empty_doc_exception_documented(spark):
    """ADVICE r11: the ONE divergence class between hybrid and pure
    winnow — empty/whitespace-normalized docs carry no MinHash
    signature, so LSH never proposes their pairs; pure winnow accepts
    them at overlap 1.0 over the shared empty fingerprint set. Pinned
    here so a behavior change (either direction) is a conscious one,
    together with the documented mitigation: exact_dedup upstream
    collapses every empty-text group before a matcher runs."""
    from yahoofinancedatalake_spark.operators.dedup import (
        exact_dedup,
        hybrid_near_dup_pairs,
    )

    rows = [(1, ""), (2, "real content words here"), (3, "   ")]
    d = spark.createDataFrame(rows, "id long, text string")
    win = {
        (r["id_a"], r["id_b"])
        for r in winnow_near_dup_pairs(d, "text", "id").collect()
    }
    hyb = {
        (r["id_a"], r["id_b"])
        for r in hybrid_near_dup_pairs(d, "text", "id").collect()
    }
    assert win == {(1, 3)}   # pure winnow pairs the empty docs
    assert hyb == set()      # LSH never proposes them
    # the documented mitigation: exact dedup collapses the group
    survivors = {r.id for r in exact_dedup(d, "text", "id").collect()}
    assert survivors == {1, 2}


def test_sharded_pair_count_equals_unsharded(spark, tmp_path):
    """tools/scale_sweep.winnow_sharded_count (the 100×-measurement
    protocol) is EXACT: fingerprint-hash slicing partitions each
    pair's shared-fp contributions across slices, so sum-of-partials
    reproduces the un-sharded matcher — pinned at factor 1 against
    the gated query's own operator, pair for pair."""
    from tools.scale_sweep import winnow_sharded_count
    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.operators.dedup import (
        winnow_near_dup_pairs,
    )

    def pair_set(df) -> set:
        return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}

    d = "/root/testdata/sf0.01"
    n, slice_secs, _reduce_sec = winnow_sharded_count(
        spark, d, 1, str(tmp_path), n_shards=4
    )
    got = pair_set(spark.read.parquet(str(tmp_path / "pairs")))
    docs = fan_out(load_table(spark, d, "documents"))
    want = pair_set(winnow_near_dup_pairs(docs, "text", "doc_id"))
    assert want
    assert got == want
    assert n == len(want)
    assert len(slice_secs) == 4


def test_incremental_hybrid_probe_is_batch_local(spark):
    """Streaming rung 16's cost contract, asserted functionally: the
    incremental hybrid probe touches history ONLY through (a) band
    rows in buckets the batch lands in and (b) fingerprint rows of
    candidate-touched ids — so corrupting every fp_index row of
    non-touched history docs (and dropping their fp_df entries'
    support beyond what full-corpus df needs) changes NOTHING. That
    is the O(batch)-vs-O(corpus) distinction: a probe that rescanned
    history would see the corruption."""
    from yahoofinancedatalake_spark.operators.dedup import (
        hybrid_near_dup_pairs,
        minhash_band_table,
        winnow_fingerprints,
    )

    # corpus: a planted near-dup pair split across history/batch,
    # plus history-only filler docs the batch never touches
    base = " ".join(f"dup_{j} word{j}" for j in range(15))
    rows = [(100, base), (200, base + " tailX")]
    rows += [
        (i, " ".join(f"uniq{i}_{j} filler{j}" for j in range(20)))
        for i in range(10)
    ]
    d = spark.createDataFrame(rows, "id long, text string")
    hist = d.filter(F.col("id") != 200)
    batch = d.filter(F.col("id") == 200)
    band = minhash_band_table(hist, "text", "id")
    fps = winnow_fingerprints(hist, "text", "id").persist()
    fpi = fps.select("id", F.explode("fps").alias("fp"))
    fpd = fpi.groupBy("fp").agg(F.count("*").alias("df"))

    def pairs(fpi_frame):
        got = {
            (r["id_a"], r["id_b"], r["shared"], r["overlap"])
            for r in hybrid_near_dup_pairs(
                batch, "text", "id",
                band_index=band, fp_index=fpi_frame, fp_df=fpd,
            ).collect()
        }
        spark.catalog.clearCache()
        return got

    clean = pairs(fpi)
    # the planted cross-epoch pair is found, and equals the full
    # batch matcher minus old×old
    full = {
        (r["id_a"], r["id_b"], r["shared"], r["overlap"])
        for r in hybrid_near_dup_pairs(d, "text", "id").collect()
    }
    spark.catalog.clearCache()
    old_ids = {r["id"] for r in hist.collect()}
    assert clean == {
        p for p in full if not (p[0] in old_ids and p[1] in old_ids)
    }
    assert {(a, b) for a, b, _, _ in clean} == {(100, 200)}
    # corrupt every non-touched history doc's fingerprint rows: the
    # probe must not notice (it never reads them)
    corrupted = fpi.withColumn(
        "fp",
        F.when(F.col("id") != 100, F.lit("poisoned")).otherwise(
            F.col("fp")
        ),
    )
    assert pairs(corrupted) == clean
