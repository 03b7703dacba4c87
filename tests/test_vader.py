"""VADER rule-engine tests (functions/vader.py).

Pins (a) expr == the plain-Python twin (``tests/sentiment_refs.py``)
on crafted rule-path cases and on the real documents table, and (b)
each published VADER rule's directional behavior (Hutto & Gilbert
2014): boosters, dampeners, negation incl. contractions and double
negation, 'never so' / 'without doubt' / 'at least' specials, ALL-CAPS
emphasis under cap-mix, but-clause reweighting, punctuation
amplification with caps, and the alpha=15 normalization bounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.sentiment_refs import _compound_py
from yahoofinancedatalake_spark.functions.vader import (
    vader_label,
    with_vader_compound,
)

CASES = [
    None,
    "",
    "good",
    "very good",
    "slightly good",
    "not good",
    "not not good",
    "never good",
    "never so good",
    "never this bad",
    "without doubt great",
    "without great",
    "at least good",
    "least good",
    "GOOD day",
    "good day",
    "GOOD DAY",
    "good but bad",
    "bad but good",
    "good!",
    "good!!!!",
    "good!!!!!",
    "bad",
    "bad??",
    "isn't good",
    "can't fail",
    "extremely HAPPY investors!!",
    "the stock was good but the outlook is bad",
    "really?? seriously?? bad????",
    "so so good",
    "utterly COMPLETELY great",
    "profits don't grow",
    "stocks didn't gain",
    " ".join(["great"] * 200),
]


@pytest.fixture(scope="module")
def scores(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "id long, text string"
    )
    rows = (
        with_vader_compound(df, "text", compound_col="c")
        .select("id", "c")
        .collect()
    )
    return {CASES[r["id"]]: r["c"] for r in rows}


def test_expr_matches_python_twin(scores):
    for text in CASES:
        assert scores[text] == pytest.approx(_compound_py(text), abs=1e-12), text


def test_lexicon_hit_is_vader_normalized(scores):
    # good = 1.9 on the VADER scale -> 1.9 / sqrt(1.9^2 + 15) = 0.4404,
    # the published compound for a bare positive unigram sentence.
    assert scores["good"] == pytest.approx(0.4404)


def test_booster_and_dampener(scores):
    assert scores["very good"] > scores["good"]
    assert 0 < scores["slightly good"] < scores["good"]


def test_negation(scores):
    assert scores["not good"] < 0
    assert scores["not not good"] > 0  # double negation re-flips
    assert scores["isn't good"] < 0  # n't contraction
    assert scores["can't fail"] > 0  # negated negative
    assert scores["stocks didn't gain"] < 0  # n't before a lexicon word
    # no stemming, faithful to VADER: 'profits'/'grow' miss the lexicon
    assert scores["profits don't grow"] == 0.0


def test_never_without_least_specials(scores):
    assert scores["never good"] < 0
    assert scores["never so good"] > scores["good"]  # x1.25 intensifier
    assert scores["never this bad"] < scores["bad"]
    assert scores["without doubt great"] > 0  # no negation
    assert scores["without great"] < 0  # plain 'without' negates
    assert scores["at least good"] > 0  # 'at least' protected
    assert scores["least good"] < 0


def test_caps_emphasis_requires_cap_mix(scores):
    assert scores["GOOD day"] > scores["good day"]
    # all-caps doc: no cap differential -> no emphasis
    assert scores["GOOD DAY"] == scores["good day"]


def test_but_clause(scores):
    # after-but clause dominates (x1.5 vs x0.5)
    assert scores["good but bad"] < 0
    assert scores["bad but good"] > 0


def test_punctuation_amplification(scores):
    assert scores["good!"] > scores["good"]
    assert scores["good!!!!"] == scores["good!!!!!"]  # capped at 4
    assert scores["bad??"] < scores["bad"]  # amplifies negative


def test_null_and_empty(scores):
    assert scores[None] == 0.0
    assert scores[""] == 0.0


def test_normalization_bounds(scores):
    big = scores[" ".join(["great"] * 200)]
    assert 0.99 <= big <= 1.0


def test_matches_twin_on_documents(spark):
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(200)
    rows = (
        with_vader_compound(docs, "text", compound_col="c")
        .select("text", "c")
        .collect()
    )
    assert rows
    for r in rows:
        assert r["c"] == pytest.approx(_compound_py(r["text"]), abs=1e-12)


def test_label_thresholds(spark):
    df = spark.range(1).select(
        vader_label(F.lit(0.05)).alias("p"),
        vader_label(F.lit(-0.05)).alias("n"),
        vader_label(F.lit(0.0499)).alias("z"),
    )
    r = df.collect()[0]
    assert (r["p"], r["n"], r["z"]) == ("positive", "negative", "neutral")


# ---------------------------------------------------------------------------
# Property fuzz: expr == Python twin on adversarial token soups
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from yahoofinancedatalake_spark.functions.vader import (  # noqa: E402
    BOOSTERS,
    NEGATORS,
    VADER_LEXICON,
)

# draw tokens from exactly the vocab the rules react to (plus caps
# variants, contractions, punctuation runs and unknown words) so
# every rule path gets fuzzed, not just the lexicon lookup
_VOCAB = (
    list(VADER_LEXICON)[:12]
    + [w.upper() for w in list(VADER_LEXICON)[:6]]
    + list(BOOSTERS)[:8]
    + [w.upper() for w in list(BOOSTERS)[:4]]
    + sorted(NEGATORS)[:8]
    + ["isn't", "don't", "CAN'T", "but", "never", "so", "this",
       "without", "doubt", "at", "least", "very", "xyzzy", "Qwert",
       "!!", "??", "!?", "...", "--", ""]
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12))
def test_expr_matches_python_twin_fuzz(spark, tokens):
    text = " ".join(tokens)
    df = spark.createDataFrame([(0, text)], "id long, text string")
    got = (
        with_vader_compound(df, "text", compound_col="c")
        .select("c")
        .collect()[0]["c"]
    )
    assert got == pytest.approx(_compound_py(text), abs=1e-12), repr(text)


# ---------------------------------------------------------------------------
# Published ground truth (r6): the vaderSentiment README / Hutto &
# Gilbert 2014 example sentences, value-exact at 4 decimals. These pin
# the engine to the published implementation's numbers, not just rule
# directions — every lexicon value they touch (smart 1.7, handsome 2.2,
# funny 1.9, good 1.9, horrible -2.5, sux -1.5) is the published one,
# and sentence 9 exercises the multiword-idiom merge ("kind of" ->
# kind-of dampener).
# ---------------------------------------------------------------------------

PUBLISHED = [
    ("VADER is smart, handsome, and funny.", 0.8316),
    ("VADER is smart, handsome, and funny!", 0.8439),
    ("VADER is very smart, handsome, and funny.", 0.8545),
    ("VADER is VERY SMART, handsome, and FUNNY.", 0.9227),
    ("VADER is VERY SMART, handsome, and FUNNY!!!", 0.9342),
    ("VADER is not smart, handsome, nor funny.", -0.7424),
    ("The book was good.", 0.4404),
    ("At least it isn't a horrible book.", 0.431),
    ("The book was only kind of good.", 0.3832),
    ("Today SUX!", -0.5461),
]


def test_published_ground_truth_sentences(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(PUBLISHED)],
        "id long, text string",
    )
    got = {
        r["id"]: r["c"]
        for r in with_vader_compound(df, "text", compound_col="c")
        .select("id", "c")
        .collect()
    }
    for i, (text, want) in enumerate(PUBLISHED):
        assert got[i] == pytest.approx(want, abs=5e-5), text
        # the Python twin must produce the identical published value
        assert _compound_py(text) == pytest.approx(want, abs=5e-5), text


IDIOM_CASES = [
    "the project is the bomb",
    "THE BOMB indeed",
    "a kiss of death for the deal",
    "yeah right that will work",
    "this is kind of good",
    "sort of bad really",
    "to die for",
    "mankind of sorts",  # \b guard: no merge, no idiom hit
]


def test_idiom_rule_paths(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(IDIOM_CASES)], "id long, text string"
    )
    rows = (
        with_vader_compound(df, "text", compound_col="c")
        .select("id", "c")
        .collect()
    )
    got = {IDIOM_CASES[r["id"]]: r["c"] for r in rows}
    for text, c in got.items():
        assert c == pytest.approx(_compound_py(text), abs=1e-12), text
    assert got["the project is the bomb"] > 0.5  # valence 3.0
    # caps'd idiom gets C_INCR under cap-mix: 3.0 + 0.733
    assert got["THE BOMB indeed"] > got["the project is the bomb"]
    assert got["a kiss of death for the deal"] < 0  # valence -1.5
    assert got["yeah right that will work"] < 0  # valence -2.0
    # dampener idiom: weaker than bare 'good' but still positive
    bare = _compound_py("this is good")
    assert 0 < got["this is kind of good"] < bare
    assert got["sort of bad really"] > _compound_py("bad really")
    assert got["to die for"] > 0.5  # valence 3.0
    assert got["mankind of sorts"] == 0.0


# ---------------------------------------------------------------------------
# Vendored-lexicon hook (r7): published vader_lexicon.txt format
# ---------------------------------------------------------------------------

LEXICON_TSV = (
    # real rows from the published MIT-licensed vader_lexicon.txt
    # format: TOKEN \t MEAN \t STDDEV \t RAW_RATINGS
    "smart\t1.7\t0.78102\t[2, 1, 2, 2, 1, 3, 1, 2, 1, 2]\n"
    "handsome\t2.2\t0.6\t[2, 3, 2, 2, 3, 2, 1, 2, 3, 2]\n"
    "\n"  # blank line: skipped
    "malformed-no-tab\n"  # skipped
    "notanumber\tNaNopeX\t0\t[]\n"  # unparseable mean: skipped
    "two words\t1.0\t0\t[]\n"  # multi-token key: skipped
    "gloomy\t-1.5\t0.5\t[-2, -1, -2, -1, -1, -2, -1, -2, -1, -2]\n"
    "badass\t0.1\t0\t[]\n"  # overridden by IDIOM_VALENCES on swap
)


def test_lexicon_loader_and_swap(tmp_path, spark):
    from yahoofinancedatalake_spark.functions import vader as V

    p = tmp_path / "vader_lexicon.txt"
    p.write_text(LEXICON_TSV, encoding="utf-8")
    lex = V.load_lexicon_file(str(p))
    assert lex == {
        "smart": 1.7,
        "handsome": 2.2,
        "gloomy": -1.5,
        "badass": 0.1,
    }

    old = V.set_lexicon(lex)
    try:
        # swapped-in word scores; dropped built-in word goes neutral
        assert _compound_py("gloomy") < 0
        assert _compound_py("good") == 0.0
        # SPECIAL-CASE idiom precedence survives the swap, as in
        # vaderSentiment (file said 0.1; idiom table says 1.5)
        assert V.VADER_LEXICON["badass"] == 1.5
        # expression path reads the same dict at call time
        df = spark.createDataFrame(
            [("gloomy but smart",), ("very gloomy",)], ["text"]
        )
        got = {
            r["text"]: r["c"]
            for r in with_vader_compound(df, "text", compound_col="c")
            .select("text", "c")
            .collect()
        }
        for text, c in got.items():
            assert c == pytest.approx(_compound_py(text), abs=1e-12)
        assert got["very gloomy"] < _compound_py("gloomy") < 0
    finally:
        V.set_lexicon(old)
    assert _compound_py("good") > 0  # restored


def test_lexicon_autoload_env(tmp_path, monkeypatch):
    from yahoofinancedatalake_spark.functions import vader as V

    p = tmp_path / "lex.txt"
    p.write_text("zorp\t3.0\t0\t[]\n", encoding="utf-8")
    old = dict(V.VADER_LEXICON)
    try:
        monkeypatch.setenv("VADER_LEXICON_PATH", str(p))
        assert V._autoload_lexicon() == str(p)
        assert V.VADER_LEXICON["zorp"] == 3.0
        monkeypatch.setenv("VADER_LEXICON_PATH", str(tmp_path / "nope"))
        assert V._autoload_lexicon() is None
        # this container has no vendored file: subset mode
        assert V.LEXICON_SOURCE is None
    finally:
        V.set_lexicon(old)
