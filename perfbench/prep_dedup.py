"""Training-data dedup prep, batch and incremental.

A part of the ``nightly`` workload. Setup generates a document base and
increment batches, then runs ``run_prep`` over the base, which lands
the dedup state (survivors, fingerprints, LSH band index, sealed by a
manifest). That full run is also the warm-up for the shared MinHash,
verify and component paths. Each further step is one
``run_prep_incremental`` batch against the landed state, so the batch
and incremental paths are reported side by side; the first batch also
compiles the incremental paths.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

N_BASE = 600
BATCH_DOCS = 200
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10
STATE_TABLES = ("dedup_survivors", "fingerprints", "band_index")
FULL_STAGES = ("input", "quality_pass", "after_dedup", "after_decontam",
               "after_rebalance")
BATCH_STAGES = ("batch_input", "quality_pass", "after_exact", "after_dedup",
                "after_decontam")


def _tree(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


class PrepDedup:
    def __init__(self, bench, n_batches: int, layer: dict) -> None:
        self.b = bench
        self.n_batches = n_batches
        self.root = str(Path(bench.run_dir) / "prep")
        self.in_dir = str(Path(bench.run_dir) / "docs")
        self.batch_idx = 0
        #: per-op layer counts, shared with the other parts of the workload
        self.layer = layer

    def sizes(self) -> dict:
        return {
            "documents": N_BASE,
            "batches": self.n_batches,
            "batch_docs": BATCH_DOCS,
            "exact_share": EXACT_SHARE,
            "near_share": NEAR_SHARE,
        }

    def _state(self) -> tuple[int, int]:
        files = size = 0
        for t in STATE_TABLES:
            n, s = _tree(os.path.join(self.root, t))
            files, size = files + n, size + s
        return files, size

    def setup(self) -> None:
        from yahoofinancedatalake_spark.prep import run_prep  # noqa: PLC0415

        b = self.b
        self.info = gen.write_corpus(
            self.in_dir, b.seed, N_BASE, self.n_batches, BATCH_DOCS,
            EXACT_SHARE, NEAR_SHARE,
        )
        base = b.spark.read.parquet(self.info["base"])
        with b.tracer.span("prep.full", "op"):
            with b.tracer.span("prep.run_prep", "prep") as sp:
                counts = run_prep(b.spark, None, self.root, docs=base)
        b.note("prep_full_s", sp.dur)
        b.op_done()
        b.check(lambda: self._check(counts, FULL_STAGES, "full"))

    def _eval_docs(self):
        """``run_prep``'s default eval set, from the current session."""
        base = self.b.spark.read.parquet(self.info["base"])
        return base.filter(F.col("doc_id") % 37 == 0)

    def batch(self) -> float:
        """Run the next increment; returns its wall time."""
        from yahoofinancedatalake_spark.prep import (  # noqa: PLC0415
            run_prep_incremental,
        )

        b = self.b
        path = self.info["batches"][self.batch_idx]
        _, before = self._state()
        with b.tracer.span("prep.run_prep_incremental", "prep") as sp:
            counts = run_prep_incremental(
                b.spark, self.root, b.spark.read.parquet(path),
                self._eval_docs(),
            )
        files, after = self._state()
        _, in_bytes = _tree(path)
        growth = after - before
        for k, v in (
            ("prep.state_mb", after / 1048576.0),
            ("prep.state_files", files),
            ("prep.state_growth_mb", growth / 1048576.0),
            ("prep.state_bytes_per_input_byte", growth / in_bytes),
        ):
            self.layer.setdefault(k, []).append(v)
        self.last_counts = counts
        self.batch_idx += 1
        b.op_done()
        return sp.dur

    def check_last_batch(self) -> None:
        counts, what = self.last_counts, f"batch {self.batch_idx}"
        self.b.check(lambda: self._check(counts, BATCH_STAGES, what))

    def _check(self, counts: dict, stages: tuple, what: str) -> list[str]:
        from yahoofinancedatalake_spark.prep import (  # noqa: PLC0415
            verify_dedup_state,
        )

        bad = []
        seq = [counts[s] for s in stages]
        if any(a < b for a, b in zip(seq, seq[1:])):
            bad.append(f"{what}: stage counts increase: {dict(zip(stages, seq))}")
        try:
            verify_dedup_state(self.b.spark, self.root)
        except RuntimeError as e:
            bad.append(f"{what}: {e}")
        surv = pq.read_table(f"{self.root}/dedup_survivors", columns=["doc_id"])
        ids = set(surv["doc_id"].to_pylist())
        if surv.num_rows != len(ids):
            bad.append(f"{what}: survivor ids are not unique")
        # an exact copy must go whenever the document it copies survived
        kept = [c for c, src in self.info["exact_copies"] if src in ids and c in ids]
        if kept:
            bad.append(f"{what}: exact copies survived: {kept[:5]}")
        return bad
