"""Fixture-replayable ingestion sources (SURVEY.md §2.1 S8).

The reference's ingestion is driver-side REST: yfinance 5-year OHLCV
history + ``ticker.info`` (yahoo_stocks.py:18-44,47-65) and Finnhub
company-news fetched month-by-month with a 1.1 s rate limit and a
driver-side seen-id dedup set (finnhub_news.py:54-120,139-158,
174-188). Network fetches are non-deterministic at source
(SURVEY.md §7 hard part 3), so the engine isolates them behind
*replayable sources*: same record shapes, same pagination structure,
fed from local JSONL fixtures — every downstream operator is testable
hermetically, and a real REST implementation can be swapped in by
implementing the same callables. Stock history and company info
have no pagination, so ``Pipeline.ingest`` reads their fixtures whole
(:func:`_load_jsonl`).

Ingestion deliberately stays non-distributed (it is rate-limited API
paging, not data-parallel work); Spark takes over at the bronze sink.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from pathlib import Path


def _load_jsonl(path: str | Path) -> list[dict]:
    with Path(path).open() as f:
        return [json.loads(line) for line in f if line.strip()]


def month_ranges(now: str, months_back: int = 12) -> list[tuple[str, str]]:
    """Month-windowed pagination plan (finnhub_news.py:139-158):
    (from, to) pairs walking backwards from ``now``, one API call per
    window — the reference's workaround for the provider's per-call
    result cap."""
    from datetime import date, timedelta  # noqa: PLC0415

    cur = date.fromisoformat(now)
    out = []
    for _ in range(months_back):
        start = cur.replace(day=1)
        out.append((start.isoformat(), cur.isoformat()))
        cur = start - timedelta(days=1)
    return out


def replay_news_windows(
    fixture_file: str | Path,
    symbol: str,
    now: str,
    months_back: int = 12,
) -> Iterator[tuple[str, str, list[dict]]]:
    """S8: month-windowed news pagination for one symbol.

    Yields (from_date, to_date, records) per window, mirroring the
    fetch loop of finnhub_news.py:174-188 — including the provider
    quirk that the same article id can be served in more than one
    window (the caller dedups across windows, A8). Record shape:
    finnhub_news.py:101-114.
    """
    rows = [r for r in _load_jsonl(fixture_file) if r["symbol"] == symbol]
    # provider quirk: items served inside a recent window can carry a
    # broken epoch-zero/stale timestamp (the reason for the silver
    # >=2020 filter, format_to_parquet.py:141) — replay them in the
    # newest window rather than silently dropping them
    stale = [r for r in rows if r["pub_date"][:10] < "2020-01-01"]
    for i, (frm, to) in enumerate(month_ranges(now, months_back)):
        hits = [r for r in rows if frm <= r["pub_date"][:10] <= to]
        if i == 0:
            hits = hits + stale
        yield frm, to, hits


def ingest_news(
    fixture_file: str | Path,
    symbols: list[str],
    now: str,
    months_back: int = 12,
) -> list[dict]:
    """Drive the windowed source for every symbol with the reference's
    cross-window seen-id dedup (finnhub_news.py:176,184-188 — A8).
    No sleep: the fixture has no rate limit to respect."""
    seen: set[str] = set()
    out: list[dict] = []
    for sym in symbols:
        for _frm, _to, records in replay_news_windows(
            fixture_file, sym, now, months_back
        ):
            for r in records:
                if r["id"] not in seen:
                    seen.add(r["id"])
                    out.append(r)
    return out
