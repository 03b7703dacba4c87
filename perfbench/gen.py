"""Seeded input generators, one per workload.

Every generator takes the workload seed and writes plain files; the
engine only ever sees those files. The same seed gives byte-identical
inputs. Each generator returns a small dict describing what it wrote,
which the benchmark records in its report.
"""

from __future__ import annotations

import json
import random
from datetime import date, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = (("en", 0.45), ("de", 0.15), ("fr", 0.14), ("es", 0.14), ("zh", 0.12))


def business_days(start: date, n: int) -> list[date]:
    out, d = [], start
    while len(out) < n:
        if d.isoweekday() <= 5:
            out.append(d)
        d += timedelta(days=1)
    return out


# -- lake_daily: provider feed snapshots ---------------------------------


def write_feed(
    out_dir: str | Path,
    seed: int,
    n_symbols: int,
    history_days: int,
    refresh_days: int,
) -> dict:
    """Write one provider-feed snapshot per simulated day.

    Layout: ``out_dir/<date>/{stocks,company_info,news}.jsonl``. Like
    the real provider, every day's stocks file carries the symbol's
    whole OHLCV history up to that day (the daily re-fetch the silver
    upsert dedups), company info is re-fetched daily, and news carries
    every article published so far.
    """
    rng = random.Random(seed)
    days = business_days(date(2024, 1, 2), history_days + refresh_days + 1)
    symbols = [f"S{i:03d}" for i in range(n_symbols)]
    words = [
        "shares", "surge", "strong", "profit", "growth", "beat", "analyst",
        "estimates", "stock", "falls", "weak", "guidance", "decline",
        "outlook", "revenue", "record", "market", "rally", "upgrade",
        "downgrade", "risk", "lawsuit", "quarterly", "high",
    ]
    bars: dict[str, list[dict]] = {s: [] for s in symbols}
    for s in symbols:
        price = rng.uniform(20, 400)
        for d in days:
            o = price
            c = max(1.0, o * (1 + rng.gauss(0, 0.02)))
            bars[s].append(
                {
                    "symbol": s,
                    "date": d.isoformat(),
                    "open": round(o, 2),
                    "high": round(max(o, c) * (1 + rng.uniform(0, 0.01)), 2),
                    "low": round(min(o, c) * (1 - rng.uniform(0, 0.01)), 2),
                    "close": round(c, 2),
                    "volume": rng.randint(10**6, 2 * 10**8),
                }
            )
            price = c
    articles: list[dict] = []
    for s in symbols:
        for i, d in enumerate(days):
            if rng.random() < 0.35:
                aid = f"{s}-{i}"
                articles.append(
                    {
                        "id": aid,
                        "symbol": s,
                        "title": " ".join(rng.choices(words, k=6)),
                        "summary": " ".join(rng.choices(words, k=18)),
                        "pub_date": f"{d.isoformat()} {rng.randint(0, 23):02d}:"
                        f"{rng.randint(0, 59):02d}:00",
                        "provider": rng.choice(("Reuters", "CNBC", "WSJ")),
                        "category": "company",
                        "url": f"https://news.example.com/{aid}",
                        "image": f"https://img.example.com/{aid}.jpg",
                        "sentiment_score": round(rng.uniform(-1, 1), 4),
                        "sentiment_label": "neutral",
                    }
                )
    caps = {s: rng.randint(10**9, 10**12) for s in symbols}
    pairs_per_day = []
    for k in range(history_days, len(days)):
        day = days[k].isoformat()
        fetched = f"{day} 06:00:00"
        snap = Path(out_dir) / day
        snap.mkdir(parents=True, exist_ok=True)
        with (snap / "stocks.jsonl").open("w") as f:
            for s in symbols:
                for b in bars[s][: k + 1]:
                    f.write(json.dumps({**b, "fetched_at": fetched}) + "\n")
        with (snap / "company_info.jsonl").open("w") as f:
            for s in symbols:
                f.write(
                    json.dumps(
                        {
                            "symbol": s,
                            "name": f"{s} Holdings Inc.",
                            "sector": "Technology",
                            "industry": "Software",
                            "country": "United States",
                            "market_cap": caps[s] + k,
                            "currency": "USD",
                            "fetched_at": fetched,
                        }
                    )
                    + "\n"
                )
        with (snap / "news.jsonl").open("w") as f:
            for a in articles:
                if a["pub_date"][:10] <= day:
                    f.write(json.dumps({**a, "fetched_at": fetched}) + "\n")
        pairs_per_day.append(n_symbols * (k + 1))
    return {
        "symbols": symbols,
        "days": [d.isoformat() for d in days[history_days:]],
        "history_days": history_days,
        "refresh_days": refresh_days,
        "pairs_per_day": pairs_per_day,
        "articles": len(articles),
    }


# -- dashboard: the events table -----------------------------------------


def zipf_weights(n_ids: int, exponent: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_ids + 1, dtype=np.float64) ** exponent
    return w / w.sum()


def write_events(
    out_dir: str | Path,
    seed: int,
    n_events: int,
    n_ids: int,
    days: int,
    exponent: float,
) -> dict:
    """Write ``out_dir/events.parquet`` in the engine's events schema
    (``timestamp[us]`` without a zone, as ``catalog.load_table``
    expects), with zipf-skewed ``user_id`` over ``n_ids`` ids."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = days * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    # id 0 is the hottest symbol, so the zipf head is ids 0, 1, 2, ...
    uid = rng.choice(n_ids, size=n_events, p=zipf_weights(n_ids, exponent))
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.uniform(0, 50, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(uid.astype(np.int64)),
            "event_type": pa.array(etype.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    pq.write_table(table, Path(out_dir) / "events.parquet")
    return {
        "events": n_events,
        "ids": n_ids,
        "days": days,
        "zipf_exponent": exponent,
        "first_day": "2024-01-01",
    }


# -- prep_dedup: document corpus -----------------------------------------


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choices(letters, k=rng.randint(3, 9))))
    return sorted(out)


def _doc_rows(
    rng: random.Random,
    vocab: list[str],
    history: list[dict],
    first_id: int,
    n: int,
    exact_share: float,
    near_share: float,
) -> tuple[list[dict], list[tuple[int, int]]]:
    """``n`` documents with ids from ``first_id``. A share of them are
    exact copies, and a share one-token edits, of a document drawn from
    ``history`` plus the rows made so far. Returns the rows and the
    (copy id, source id) pairs of the exact copies."""
    rows: list[dict] = []
    exact: list[tuple[int, int]] = []
    for i in range(n):
        doc_id = first_id + i
        pool = len(history) + len(rows)
        r = rng.random()
        if pool and r < exact_share + near_share:
            j = rng.randrange(pool)
            src = history[j] if j < len(history) else rows[j - len(history)]
            toks = src["text"].split(" ")
            if r < exact_share:
                exact.append((doc_id, src["doc_id"]))
            else:
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            lang, source = src["lang"], src["source"]
        else:
            toks = rng.choices(vocab, k=rng.randint(60, 140))
            lang = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS])[0]
            source = f"src{rng.randrange(20)}"
        text = " ".join(toks)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": lang,
                "source": source,
                "n_chars": len(text),
            }
        )
    return rows, exact


def _write_docs(path: Path, rows: list[dict]) -> None:
    path.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    pq.write_table(table, path / "part-0.parquet")


def write_corpus(
    out_dir: str | Path,
    seed: int,
    n_base: int,
    n_batches: int,
    batch_docs: int,
    exact_share: float,
    near_share: float,
) -> dict:
    """Write ``out_dir/base`` and ``out_dir/batch_<k>`` parquet dirs.
    Each batch draws its duplicates from everything generated before
    it, so increments dedup against history as well as themselves."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 6000)
    out = Path(out_dir)
    history, exact = _doc_rows(rng, vocab, [], 0, n_base, exact_share, near_share)
    _write_docs(out / "base", history)
    batches = []
    for k in range(n_batches):
        rows, ex = _doc_rows(
            rng, vocab, history, len(history), batch_docs, exact_share, near_share
        )
        _write_docs(out / f"batch_{k}", rows)
        batches.append(str(out / f"batch_{k}"))
        history += rows
        exact += ex
    return {
        "base": str(out / "base"),
        "batches": batches,
        "documents": n_base,
        "batch_docs": batch_docs,
        "n_batches": n_batches,
        "exact_share": exact_share,
        "near_share": near_share,
        "exact_copies": exact,
    }

