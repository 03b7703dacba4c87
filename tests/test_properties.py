"""Hypothesis property tests over the engine's deterministic kernels.

SURVEY §5 names property testing as part of the test strategy; these
pin the pure kernels (rounding, tokenization, hashing twins, the
closed-form forecaster) on generated inputs, where example-based tests
only cover hand-picked points. Spark-involving properties batch each
generated example into ONE job and cap example counts to keep the
suite fast.
"""

from __future__ import annotations

import math
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

# bounded so x * 10^4 can't overflow and ulp spacing stays < the 1e-6
# de-knife-edge band (dround's contract is money-scale values, not 1e300)
_FINITE = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_FINITE, min_size=1, max_size=50))
def test_dround_matches_python_kernel(spark, xs):
    """Spark dround == the plain-python floor form, bit-exact, on
    arbitrary finite doubles (the lattice test pins knife edges; this
    pins everywhere else)."""
    from yahoofinancedatalake_spark.functions.scalars import dround

    for scale in (2, 4):
        f = float(10**scale)
        want = {x: math.floor(x * f + 0.5 + 1e-6) / f for x in xs}
        df = spark.createDataFrame([(x,) for x in set(xs)], "x double")
        got = {
            r.x: r.r
            for r in df.select("x", dround("x", scale).alias("r")).collect()
        }
        for x in set(xs):
            assert got[x] == want[x], (scale, x)


_TOKEN_RE = re.compile(r"[^a-z0-9']+")


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="ascii", categories=("L", "N", "P", "Z")),
            max_size=80,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_word_tokenization_matches_python(spark, texts):
    """The shared lowercase word tokenization (fuzzy/chunking/
    decontamination/bigrams all build on it) == a plain-python re.split
    twin on arbitrary ASCII text."""
    from yahoofinancedatalake_spark.queries.pack import _word_toks

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.toks
        for r in df.select("doc_id", _word_toks().alias("toks")).collect()
    }
    for i, t in rows:
        want = [w for w in _TOKEN_RE.split(t.lower().strip()) if w != ""]
        assert got[i] == want, (t, got[i], want)


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=200))
def test_ref_hash_twins_are_deterministic(text):
    """The pure-python reference twins of the distributed hash kernels
    are total and deterministic on arbitrary unicode (they gate the
    vectorized numpy kernels in the dedup tests)."""
    from tests.dedup_refs import ref_gram_hashes, ref_minhash, ref_simhash

    assert ref_gram_hashes(text, 3) == ref_gram_hashes(text, 3)
    assert ref_minhash(text) == ref_minhash(text)
    assert ref_simhash(text) == ref_simhash(text)
    sig = ref_minhash(text)
    if sig is not None:
        assert len(sig) == 32
        assert all(isinstance(v, int) for v in sig)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False,
                  min_value=-1e6, max_value=1e6),
        min_size=3,
        max_size=100,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_fallback_forecast_is_finite_and_stable(ys, horizon):
    """Closed-form forecaster invariants on arbitrary series: outputs
    finite, half-widths non-negative and non-decreasing (the AR(1)
    variance term is monotone in h), and bit-identical across calls."""
    from yahoofinancedatalake_spark.forecast.grouped import _fallback_forecast

    y = np.asarray(ys, dtype=np.float64)
    preds, halves = _fallback_forecast(y, horizon)
    preds2, halves2 = _fallback_forecast(y, horizon)
    assert np.array_equal(preds, preds2) and np.array_equal(halves, halves2)
    assert np.isfinite(preds).all() and np.isfinite(halves).all()
    assert (halves >= 0).all()
    assert (np.diff(halves) >= -1e-12).all()


@settings(max_examples=100, deadline=None)
@given(
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e6, max_value=1e6),
    st.integers(min_value=3, max_value=50),
    st.integers(min_value=1, max_value=12),
)
def test_fallback_forecast_constant_series(c, n, horizon):
    """A constant series forecasts the constant with zero-width CI —
    the sharpest available exactness check on the closed forms."""
    from yahoofinancedatalake_spark.forecast.grouped import _fallback_forecast

    y = np.full(n, c, dtype=np.float64)
    preds, halves = _fallback_forecast(y, horizon)
    assert np.allclose(preds, c, rtol=1e-9, atol=1e-6)
    assert np.allclose(halves, 0.0, atol=1e-6)


# ---------------------------------------------------------------------------
# Round-6: PPJoin losslessness and Mann-Whitney, on generated inputs
# ---------------------------------------------------------------------------

_VOCAB = [f"w{i}" for i in range(12)]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=4, max_size=24),
        min_size=4,
        max_size=16,
    ),
    st.sampled_from([0.3, 0.5, 2 / 3, 0.75, 0.8, 0.6666666666666666]),
)
def test_ppjoin_candidates_superset_truth(spark, token_lists, t):
    """The prefix filter's r6 length+positional filters must keep
    candidates ⊇ all true pairs for ANY corpus and threshold —
    including thresholds whose exact float form stresses the
    denominator-limit path. Truth comes from the exact
    ngram_jaccard kernel over ALL pairs (one Spark job), so the
    property is checked against the verify semantics themselves."""
    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.operators.dedup import (
        ngram_jaccard,
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        "doc_id long, text string",
    )
    ids = [i for i in range(len(token_lists))]
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b],
        "id_a long, id_b long",
    )
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard(all_pairs, docs, "doc_id", "text", 3)
        .filter(F.col("jaccard") >= t)
        .collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in prefix_filter_jaccard_pairs(
            docs, "text", "doc_id", threshold=t
        ).collect()
    }
    assert truth <= cand, (t, truth - cand)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=8), min_size=2, max_size=40),
    st.lists(st.integers(min_value=1, max_value=8), min_size=2, max_size=40),
)
def test_mannwhitney_matches_textbook_reference(spark, a_cents, b_cents):
    """Engine U and z equal the average-rank textbook formulation on
    arbitrary tied integer samples (tiny domain = maximal ties)."""
    import datetime as dt

    from tests.test_stat_gates import _mannwhitney_ref
    from yahoofinancedatalake_spark.queries.pack import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0, i, "click", c / 100.0, "{}")
        for i, c in enumerate(a_cents)
    ] + [
        (10_000 + i, t0, i, "error", c / 100.0, "{}")
        for i, c in enumerate(b_cents)
    ]
    import tempfile

    # a hypothesis body runs per example, where a pytest tmp dir would
    # be shared: each example writes and removes its own dir
    with tempfile.TemporaryDirectory(prefix="mw_hyp_") as d:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        [r] = QUERIES["mannwhitney_drift"].spark(spark, d).collect()
    if len(set(a_cents) | set(b_cents)) == 1:
        # every observation tied: variance 0, z undefined -> NULL
        assert r.z_score is None
        return
    u, z = _mannwhitney_ref(a_cents, b_cents)
    assert r.u_stat == u
    assert abs(r.z_score - z) < 1e-9
