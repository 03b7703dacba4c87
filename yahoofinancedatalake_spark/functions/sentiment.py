"""Sentiment scoring (SURVEY.md §2.9 X1).

The reference scores each article with VADER's compound polarity
(finnhub_news.py:27-51) — a lexicon-plus-heuristics model. VADER is
not installed in this container, so the engine ships a small,
deterministic lexicon scorer with the same *interface contract*:
``score ∈ [-1, 1]`` rounded to 4 decimals (finnhub_news.py:49) and
the ±0.05 label thresholds (finnhub_news.py:41-46).

The scorer is :func:`sentiment_score_expr`, a pure Column expression
(token filter + count). It stays JVM-side in whole-stage codegen; this
is the 100 TB path and is SQL-oracle-checkable. The tests pin it
against a plain-Python twin (``tests/sentiment_refs.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic mini-lexicon (public-domain word lists). Scoring:
# score = clip((pos_hits - neg_hits) / max(n_tokens, 1) * SCALE, -1, 1)
POSITIVE_WORDS = (
    "good great excellent strong growth profit gain rally surge beat "
    "record bullish upgrade outperform positive win success soar jump "
    "boost rise up high best happy love fast small easy"
).split()
NEGATIVE_WORDS = (
    "bad poor weak loss decline drop crash plunge miss bearish downgrade "
    "underperform negative fail lawsuit fraud risk fear fall down low "
    "worst sad hate slow big hard"
).split()
SCALE = 5.0


def _tokens(col: Column) -> Column:
    # coalesce: null text scores 0.0 (like the Python scorer), not null.
    # split keeps leading/trailing/adjacent-separator empty strings
    # (limit=-1), so filter them — otherwise punctuated text inflates
    # the token count n and deflates every score (the Python scorer
    # and the DuckDB oracle both drop empties).
    raw = F.split(F.lower(F.trim(F.coalesce(col, F.lit("")))), r"[^a-z0-9']+")
    return F.filter(raw, lambda t: t != "")


def sentiment_score_expr(text: Column | str) -> Column:
    """Lexicon sentiment as a pure (codegen'd) column expression."""
    from yahoofinancedatalake_spark.functions.scalars import dround  # noqa: PLC0415

    col = F.col(text) if isinstance(text, str) else text
    toks = _tokens(col)
    pos = F.size(F.filter(toks, lambda t: t.isin(*POSITIVE_WORDS)))
    neg = F.size(F.filter(toks, lambda t: t.isin(*NEGATIVE_WORDS)))
    n = F.greatest(F.size(toks), F.lit(1))
    raw = (pos - neg).cast("double") / n * SCALE
    return dround(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), raw)), 4)
