"""``nightly``: the write path, one nightly batch job per op.

Each op refreshes the lake for one simulated day (``lake_daily``) and
then dedups that night's documents against the landed prep state
(``prep_dedup``). Setup runs the bootstrap day and ``run_prep`` over
the document base. The two parts share one process and one session so
that a run pays one session start and one JVM warm-up for both: two
separate workloads do not fit the benchmark's time budget on a 4-core
host. The report keeps each part's own times.
"""

from __future__ import annotations

from lake_daily import LakeDaily
from prep_dedup import PrepDedup

#: nights timed per measured pass: at least MIN_NIGHTS, then until the
#: busy-time budget is spent, at most MAX_NIGHTS
MIN_NIGHTS = 1
MAX_NIGHTS = 8
#: ``--trace 1`` runs a warm-up round and measures twice on one lake
#: and state, so the inputs hold enough nights for all three
POOL = MIN_NIGHTS + 2 * MAX_NIGHTS


class Nightly:
    name = "nightly"

    def __init__(self, bench) -> None:
        self.b = bench
        self.layer: dict[str, list[float]] = {}
        self.lake = LakeDaily(bench, POOL, self.layer)
        self.prep = PrepDedup(bench, POOL, self.layer)

    def sizes(self) -> dict:
        return {**self.lake.sizes(), **self.prep.sizes()}

    def setup(self) -> None:
        self.lake.setup()
        self.prep.setup()
        self.layer.clear()

    def measure(self, seconds: float) -> dict:
        """Nights, one after another, for ``seconds`` of busy time and
        at least ``MIN_NIGHTS``, at most ``MAX_NIGHTS``. A night's
        latency is its day plus its batch."""
        days: list[float] = []
        batches: list[float] = []
        while len(days) < MAX_NIGHTS and (
            len(days) < MIN_NIGHTS or sum(days) + sum(batches) < seconds
        ):
            with self.b.tracer.span("nightly.night", "op"):
                days.append(self.lake.day())
                batches.append(self.prep.batch())
            self.lake.check_last_day()
            self.prep.check_last_batch()
            self.b.spark.catalog.clearCache()
        return {
            "latencies": [d + b for d, b in zip(days, batches)],
            "day_s": days,
            "batch_s": batches,
        }
