"""Pure-Python reference twins of the sentiment scorers.

Plain-Python ground truth for the Column-expression scorers in
``functions/sentiment.py`` (:func:`sentiment_score_expr`) and
``functions/vader.py`` (:func:`with_vader_compound`), one text at a
time; the tests cross-check the Spark expressions against them.
"""

from __future__ import annotations

import math

import pandas as pd

from yahoofinancedatalake_spark.functions.sentiment import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    SCALE,
)
from yahoofinancedatalake_spark.functions.vader import (
    ALPHA,
    BOOSTERS,
    BUT_AFTER,
    BUT_BEFORE,
    C_INCR,
    DAMP,
    EP_CAP,
    EP_UNIT,
    IDIOM_MERGES,
    N_SCALAR,
    NEGATORS,
    NEVER_SO,
    QM_CAP,
    QM_UNIT,
    VADER_LEXICON,
    _STRIP_RE,
    idiom_pattern,
)

_POS = set(POSITIVE_WORDS)
_NEG = set(NEGATIVE_WORDS)


def _score_batch(texts: pd.Series) -> pd.Series:
    """Vectorized Python scorer — same semantics as the expression."""
    import math  # noqa: PLC0415
    import re  # noqa: PLC0415

    split = re.compile(r"[^a-z0-9']+")

    def score(t: str | None) -> float:
        if t is None:
            t = ""
        toks = [w for w in split.split(t.strip().lower()) if w]
        n = max(len(toks), 1)
        raw = (
            sum(w in _POS for w in toks) - sum(w in _NEG for w in toks)
        ) / n * SCALE
        clipped = max(-1.0, min(1.0, raw))
        return math.floor(clipped * 10000.0 + 0.5) / 10000.0  # dround(x, 4)

    return texts.map(score)


def _compound_py(text: str | None) -> float:
    import re  # noqa: PLC0415

    if text is None:
        text = ""
    for seq in IDIOM_MERGES:
        repl = "-".join(f"\\{i}" for i in range(1, len(seq) + 1))
        text = re.sub(idiom_pattern(seq), repl, text)
    raw = [t for t in re.split(r"\s+", text.strip()) if t]
    stripped = [re.sub(_STRIP_RE, "", t) for t in raw]
    words = [s.lower() for s in stripped]
    caps = [s != "" and s == s.upper() and s != s.lower() for s in stripped]
    n_caps = sum(caps)
    capdiff = 0 < n_caps < len(words)
    but_i = words.index("but") + 1 if "but" in words else None

    def is_neg(w: str) -> bool:
        return w in NEGATORS or w.endswith("n't")

    total = 0.0
    for idx, w in enumerate(words):
        v0 = VADER_LEXICON.get(w, 0.0)
        sign0 = 1.0 if v0 > 0 else (-1.0 if v0 < 0 else 0.0)
        v = v0 + (sign0 * C_INCR if caps[idx] and capdiff else 0.0)
        pw = [words[idx - j] if idx - j >= 0 else None for j in (1, 2, 3)]
        pc = [caps[idx - j] if idx - j >= 0 else False for j in (1, 2, 3)]
        for j in (1, 2, 3):
            pwj = pw[j - 1]
            applies = v0 != 0 and pwj is not None and pwj not in VADER_LEXICON
            s = 0.0
            if applies and pwj in BOOSTERS:
                b = BOOSTERS[pwj]
                s = -b if v0 < 0 else b
                if pc[j - 1] and capdiff:
                    s += C_INCR if v0 > 0 else -C_INCR
                s *= DAMP[j - 1]
            v = v + s
            m = 1.0
            if applies:
                if j == 1:
                    m = N_SCALAR if is_neg(pwj) else 1.0
                elif j == 2:
                    if pwj == "never" and pw[0] in ("so", "this"):
                        m = NEVER_SO
                    elif pwj == "without" and pw[0] == "doubt":
                        m = 1.0
                    elif is_neg(pwj):
                        m = N_SCALAR
                else:
                    if pwj == "never" and (pw[1] in ("so", "this") or pw[0] in ("so", "this")):
                        m = NEVER_SO
                    elif pwj == "without" and (pw[1] == "doubt" or pw[0] == "doubt"):
                        m = 1.0
                    elif is_neg(pwj):
                        m = N_SCALAR
            v = v * m
        if v0 != 0 and pw[0] == "least" and (pw[1] is None or pw[1] not in ("at", "very")):
            v = v * N_SCALAR
        if but_i is not None:
            i1 = idx + 1
            if i1 < but_i:
                v = v * BUT_BEFORE
            elif i1 > but_i:
                v = v * BUT_AFTER
        total += v

    excl = min(text.count("!"), EP_CAP) * EP_UNIT
    qm_n = text.count("?")
    qm = QM_CAP if qm_n > 3 else (qm_n * QM_UNIT if qm_n > 1 else 0.0)
    pe = excl + qm
    s2 = total + pe if total > 0 else (total - pe if total < 0 else total)
    compound = s2 / math.sqrt(s2 * s2 + ALPHA)
    compound = max(-1.0, min(1.0, compound))
    return math.floor(compound * 10000.0 + 0.5 + 1e-6) / 10000.0  # dround(x, 4)
