"""The daily medallion refresh, the engine's write path to the lake.

A part of the ``nightly`` workload. Setup generates one provider-feed
snapshot per simulated day and runs the bootstrap day (ingest → format
→ combine → predict → serve against an empty lake, plain writes). The
bootstrap is also the warm-up: it starts the Python workers and
compiles the read, write and SARIMAX paths. Each further day
row-upserts the day's feed into the symbol partitions; the first of
them also compiles the upsert and partition-swap paths.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as pq

from yahoofinancedatalake_spark.catalog import LakeCatalog

import gen

#: the engine's pipeline stages in call order, with the layer each is in
STAGES = {
    "ingest": "sources", "format": "sources", "combine": "etl",
    "predict": "forecast", "serve": "sources",
}
N_SYMBOLS = 3
HISTORY_DAYS = 62


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class LakeDaily:
    def __init__(self, bench, refresh_days: int, layer: dict) -> None:
        self.b = bench
        self.refresh_days = refresh_days
        self.root = str(Path(bench.run_dir) / "lake")
        self.feed_dir = str(Path(bench.run_dir) / "feed")
        self.day_idx = 0
        #: per-op layer counts, shared with the other parts of the workload
        self.layer = layer

    def sizes(self) -> dict:
        return {
            "symbols": N_SYMBOLS,
            "history_days": HISTORY_DAYS,
            "refresh_days": self.refresh_days,
        }

    def setup(self) -> None:
        self.info = gen.write_feed(
            self.feed_dir, self.b.seed, N_SYMBOLS, HISTORY_DAYS,
            self.refresh_days,
        )
        with self.b.tracer.span("lake.bootstrap", "op"):
            self.b.note("lake_bootstrap_s", self.day())
        self.check_last_day()

    def day(self) -> float:
        """Run the next simulated day; returns its wall time."""
        from yahoofinancedatalake_spark.pipeline import Pipeline  # noqa: PLC0415

        b = self.b
        day = self.info["days"][self.day_idx]
        p = Pipeline(
            b.spark, self.root,
            fixtures=str(Path(self.feed_dir) / day),
            symbols=self.info["symbols"],
        )
        before = _files(self.root)
        t0 = b.clock()
        for stage, layer in STAGES.items():
            with b.tracer.span(f"pipeline.{stage}", layer) as sp:
                args = (day,) if stage in ("ingest", "format") else ()
                getattr(p, stage)(*args)
            self.layer.setdefault(f"pipeline.{stage}_s", []).append(sp.dur)
        took = b.clock() - t0
        self._write_stats(day, before)
        self.layer.setdefault("etl.gold_rows", []).append(
            p.stage_metrics["combine"]["rows"]
        )
        self.day_idx += 1
        b.op_done()
        return took

    def check_last_day(self) -> None:
        day = self.info["days"][self.day_idx - 1]
        self.b.check(lambda: self._check(day))

    def _write_stats(self, day: str, before: dict) -> None:
        after = _files(self.root)
        written = {
            p: sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt)
        }
        swapped = {
            os.path.dirname(p) for p in written
            if "/symbol=" in p and "/bronze/" not in p
        }
        bronze = sum(
            sz for p, sz in written.items() if f"ingest_date={day}" in p
        )
        total = sum(written.values())
        for k, v in (
            ("sources.bytes_written_mb", total / 1048576.0),
            ("sources.files_written", len(written)),
            ("sources.partitions_swapped", len(swapped)),
            ("sources.write_amp", total / bronze if bronze else 0.0),
        ):
            self.layer.setdefault(k, []).append(v)

    def _check(self, day: str) -> list[str]:
        """Gold matches the day's feed, each symbol has its 30-day
        forecast, and serving ``stock_analysis`` equals gold."""
        from tools.selfcheck import value_hash  # noqa: PLC0415

        cat = LakeCatalog(self.root)
        gold = pq.read_table(cat.path("gold", "enriched_stocks"))
        bad = []
        keys = list(zip(gold["symbol"].to_pylist(), gold["date"].to_pylist()))
        want = self.info["pairs_per_day"][self.info["days"].index(day)]
        if len(keys) != want or len(set(keys)) != want:
            bad.append(f"{day}: gold has {len(keys)} rows, {len(set(keys))} "
                       f"distinct keys; the feed has {want} (symbol, date) pairs")
        if any(s is None or d is None for s, d in keys):
            bad.append(f"{day}: gold has null keys")
        preds = pq.read_table(cat.path("gold", "predictions")).to_pylist()
        per_sym: dict[str, int] = {}
        for r in preds:
            if r["type"] == "forecast":
                per_sym[r["symbol"]] = per_sym.get(r["symbol"], 0) + 1
        if per_sym != {s: 30 for s in self.info["symbols"]}:
            bad.append(f"{day}: forecast rows per symbol {per_sym}, want 30 each")
        serving = pq.read_table(
            cat.path("serving", "stock_analysis"), partitioning="hive"
        ).select(gold.column_names).cast(gold.schema)
        if value_hash(gold.column_names, list(zip(*gold.to_pydict().values()))) != (
            value_hash(serving.column_names,
                       list(zip(*serving.to_pydict().values())))
        ):
            bad.append(f"{day}: serving stock_analysis differs from gold")
        return bad
