"""``dashboard``: interactive read-only queries in a closed loop.

Half the requests are ``serve.bound`` drill-downs on a zipf-drawn
symbol, half are Lens-style panels from the query pack that read only
``events``. Every request runs to the ``noop`` sink. Phase 1 is one
client; phase 2 is ``nproc`` client threads sharing the one session,
as a dashboard backend does. Setup runs every request kind once,
collecting its rows for the DuckDB oracle check; that pass is also
the warm-up.
"""

from __future__ import annotations

import random
import re
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb

import gen

N_EVENTS = 300_000
N_IDS = 1500
DAYS = 90
ZIPF = 1.1
#: the pack's events-only Lens panels whose results are small enough to
#: collect for the oracle check within a run (daily_lag_returns,
#: rolling_mean_30 and user_sessions return one row per symbol-day or
#: session, 10^5 rows here)
PANELS = (
    "top_flop", "last_value_per_group", "date_bucket_avg", "min_per_group",
    "group_agg_count_max", "sort_limit_feed", "negated_range",
    "pivot_event_counts", "scalar_kit",
)


def percentile_10_beyond(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(values)
    return s[max(0, len(s) - 11)]


class Dashboard:
    name = "dashboard"

    def __init__(self, bench) -> None:
        self.b = bench
        self.data_dir = f"{bench.run_dir}/events"
        self.rng = random.Random(bench.seed)
        self.layer: dict[str, list[float]] = {}
        self.n_sent = 0
        self._lock = threading.Lock()

    def sizes(self) -> dict:
        return {"events": N_EVENTS, "ids": N_IDS, "days": DAYS,
                "zipf_exponent": ZIPF, "clients_loaded": self.b.cpus}

    def setup(self) -> None:
        self.info = gen.write_events(
            self.data_dir, self.b.seed, N_EVENTS, N_IDS, DAYS, ZIPF
        )
        self.weights = gen.zipf_weights(N_IDS, ZIPF).tolist()
        b = self.b
        with b.tracer.span("dashboard.first_pass", "op"):
            results = {}
            for kind, params in self._every_kind():
                with b.tracer.span(f"queries.{kind}", "queries"):
                    df = self._frame(kind, params)
                    results[kind] = (df.columns, [tuple(r) for r in df.collect()])
                b.op_done()
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{self.data_dir}/events.parquet'"
            )
            for kind, params in self._every_kind():
                b.check(lambda: self._check(con, kind, params, *results[kind]))
        finally:
            con.close()

    def _every_kind(self):
        for name in PANELS:
            yield name, None
        yield "top_flop_for_symbol", {"uid": 0}
        yield "type_window_daily", {
            "uid": 1, "etype": "purchase",
            "start_day": "2024-01-15", "end_day": "2024-02-20",
        }

    def _next_request(self) -> tuple[str, dict | None]:
        """Alternate drill and panel; panels cycle, drills bind a
        zipf-drawn symbol."""
        with self._lock:
            i = self.n_sent
            self.n_sent += 1
            uid = self.rng.choices(range(N_IDS), self.weights)[0]
            day = self.rng.randrange(DAYS - 14)
            etype = self.rng.choice(gen.EVENT_TYPES)
        if i % 2:
            return PANELS[(i // 2) % len(PANELS)], None
        if (i // 2) % 2 == 0:
            return "top_flop_for_symbol", {"uid": uid}
        return "type_window_daily", {
            "uid": uid, "etype": etype,
            "start_day": _day(day), "end_day": _day(day + 14),
        }

    def _frame(self, kind: str, params: dict | None):
        from yahoofinancedatalake_spark.queries.pack import QUERIES  # noqa: PLC0415
        from yahoofinancedatalake_spark.queries.serve import bound  # noqa: PLC0415

        if params is None:
            return QUERIES[kind].spark(self.b.spark, self.data_dir)
        return bound(self.b.spark, self.data_dir, kind, **params)

    def _request(self, loaded: bool) -> float:
        kind, params = self._next_request()
        role = "panel" if params is None else "drill"
        suffix = "_loaded" if loaded else ""
        with self.b.tracer.span(f"queries.{role}{suffix}", "queries") as sp:
            self._frame(kind, params).write.format("noop").mode("overwrite").save()
        self.b.op_done()
        return sp.dur

    def _check(self, con, kind: str, params: dict | None, cols, rows) -> list[str]:
        """The request's rows match its DuckDB oracle over the same
        parquet: the pack query's ``oracle``, or the serve template's
        SQL with the same bindings."""
        from tools.selfcheck import value_hash  # noqa: PLC0415
        from yahoofinancedatalake_spark.queries.pack import QUERIES  # noqa: PLC0415
        from yahoofinancedatalake_spark.queries.serve import TEMPLATES  # noqa: PLC0415

        if params is None:
            cur = con.execute(QUERIES[kind].oracle)
        else:
            sql = re.sub(r":([A-Za-z_]\w*)", r"$\1",
                         TEMPLATES[kind].replace("{events}", "events"))
            cur = con.execute(sql, params)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
        if sorted(o_cols) != sorted(cols) or len(o_rows) != len(rows) or (
            value_hash(o_cols, o_rows) != value_hash(cols, rows)
        ):
            return [f"{kind}: result differs from its DuckDB oracle"]
        return []

    def measure(self, seconds: float) -> dict:
        """Phase 1: one client for whole request cycles until half the
        time is spent. Phase 2: ``nproc`` clients sharing whole cycles
        until the other half is spent. Whole cycles give every run the
        same request mix."""
        b = self.b
        cycle = 2 * len(PANELS)
        lat: list[float] = []
        start = b.clock()
        while b.clock() - start < seconds / 2 or len(lat) % cycle:
            lat.append(self._request(loaded=False))
        loaded: list[float] = []
        deadline = b.clock() + seconds / 2
        with ThreadPoolExecutor(b.cpus) as pool:
            while not loaded or b.clock() < deadline:
                loaded += pool.map(
                    lambda _: self._request(loaded=True), range(cycle)
                )
        return {"latencies": lat, "loaded_latencies": loaded}


def _day(offset: int) -> str:
    from datetime import date, timedelta  # noqa: PLC0415

    return (date(2024, 1, 1) + timedelta(days=offset)).isoformat()
