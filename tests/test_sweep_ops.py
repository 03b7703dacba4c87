"""Property gates for the round-6 sweep-line / blocking operators.

Each test checks the *rewrite theorem* a query rests on against an
independent brute-force formulation on randomized (seeded) data —
the same adversarial posture as the oracle gates, but exercising
shapes the uniform testdata cannot produce (midnight-spanning
sessions, dominance ties, clustered near-miss strings).
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F


def _concurrency_flat(sessions):
    """Reference: flat single-window sweep (the oracle formulation)."""
    rows = []
    bounds = {}
    for s, e in sessions:
        bounds.setdefault(s, [0, 0])[0] += 1
        bounds.setdefault(e, [0, 0])[1] += 1
    cur = 0
    day_peak = {}
    day_starts = {}
    for ts in sorted(bounds):
        st, en = bounds[ts]
        peak = cur + st
        day = ts.date()
        day_peak[day] = max(day_peak.get(day, 0), peak)
        day_starts[day] = day_starts.get(day, 0) + st
        cur += st - en
    return {
        d: (day_peak[d], day_starts.get(d, 0)) for d in day_peak
    }


class TestIntervalConcurrency:
    def test_two_phase_scan_matches_flat_sweep(self, spark, tmp_path):
        """Random sessions incl. midnight spans: the day-partitioned
        two-phase prefix scan must equal the flat global sweep."""
        import datetime as dt

        rng = random.Random(7)
        base = dt.datetime(2024, 3, 1)
        events = []
        eid = 0
        for u in range(40):
            t = base + dt.timedelta(minutes=rng.randrange(0, 5 * 1440))
            for _ in range(rng.randrange(1, 12)):
                # gaps straddle the 30-min session break and midnight
                t += dt.timedelta(minutes=rng.choice([1, 5, 29, 31, 200, 700]))
                events.append((eid, t, u, "view", 1.0, "{}"))
                eid += 1
        df = spark.createDataFrame(
            events,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        )

        # reference sessions from the same 30-min-gap definition
        per_user: dict = {}
        for _, t, u, *_ in sorted(events, key=lambda r: (r[2], r[1], r[0])):
            per_user.setdefault(u, []).append(t)
        sessions = []
        for u, ts_list in per_user.items():
            start = prev = ts_list[0]
            for t in ts_list[1:]:
                if (t - prev).total_seconds() > 1800:
                    sessions.append((start, prev))
                    start = t
                prev = t
            sessions.append((start, prev))
        expected = _concurrency_flat(sessions)

        d = str(tmp_path)
        df.repartition(6).write.mode("overwrite").parquet(
            f"{d}/events.parquet"
        )
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        got = {
            r.day: (r.peak_concurrency, r.sessions_started)
            for r in QUERIES["interval_concurrency"].spark(spark, d).collect()
        }
        assert got == expected


class TestParetoFrontier:
    def test_matches_brute_force_with_ties(self, spark, tmp_path):
        """Random points with duplicated prices/sizes: the prefix-max
        sweep must equal the NOT-EXISTS dominance definition."""
        rng = random.Random(11)
        pts = [
            (i, float(rng.randrange(10, 40)), rng.randrange(1, 15))
            for i in range(300)
        ]
        brute = [
            (k, p, s)
            for k, p, s in pts
            if not any(
                (p2 <= p and s2 >= s and (p2 < p or s2 > s))
                for _, p2, s2 in pts
            )
        ]
        d = str(tmp_path)
        spark.createDataFrame(
            [
                (k, f"n{k}", "m", "b", f"t{k}", s, "c", p, "x")
                for k, p, s in pts
            ],
            "p_partkey bigint, p_name string, p_mfgr string, "
            "p_brand string, p_type string, p_size int, "
            "p_container string, p_retailprice double, p_comment string",
        ).write.mode("overwrite").parquet(f"{d}/part.parquet")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        got = sorted(
            (r.partkey, r.price, r.size)
            for r in QUERIES["pareto_frontier"].spark(spark, d).collect()
        )
        assert got == sorted(brute)


class TestEditDistBlocking:
    def test_blocking_finds_every_lev1_pair(self, spark, tmp_path):
        """Mutated-string corpus: the symmetric-delete blocked join
        must return exactly the lev<=1 pairs the quadratic scan finds
        (substitutions, insertions, deletions, incl. first/last char)."""
        rng = random.Random(3)
        alphabet = "abcdef"
        base = ["".join(rng.choice(alphabet) for _ in range(8))
                for _ in range(30)]
        variants = set(base)
        for s in base:
            i = rng.randrange(len(s))
            variants.add(s[:i] + rng.choice(alphabet) + s[i + 1:])  # sub
            variants.add(s[:i] + s[i + 1:])                         # del
            variants.add(s[:i] + rng.choice(alphabet) + s[i:])      # ins
        names = sorted(variants)

        def lev(a: str, b: str) -> int:
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(
                            prev[j] + 1,
                            cur[j - 1] + 1,
                            prev[j - 1] + (ca != cb),
                        )
                    )
                prev = cur
            return prev[-1]

        brute = sorted(
            (a, b)
            for i, a in enumerate(names)
            for b in names[i + 1:]
            if lev(a, b) <= 1
        )
        d = str(tmp_path)
        spark.createDataFrame(
            [
                (i, n, "addr", 0, "p", 0.0, "BUILDING", "c")
                for i, n in enumerate(names)
            ],
            "c_custkey bigint, c_name string, c_address string, "
            "c_nationkey bigint, c_phone string, c_acctbal double, "
            "c_mktsegment string, c_comment string",
        ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        got = sorted(
            (r.name_a, r.name_b)
            for r in QUERIES["editdist_blocked_join"]
            .spark(spark, d)
            .collect()
        )
        assert got == brute
        assert brute  # the corpus really contains lev<=1 pairs


class TestRrfFusion:
    def test_missing_side_contributes_zero(self, spark):
        """A doc present in only one top-100 list scores exactly
        1/(60+rank) — full-outer semantics, no null poisoning."""
        import __spark_entry__ as entry

        df = entry.queries()["hybrid_rrf_search"](
            spark, "/root/testdata/sf0.001"
        )
        rows = df.collect()
        assert rows
        for r in rows:
            expect = 0.0
            if r.ra is not None:
                expect += 1.0 / (60 + r.ra)
            if r.rb is not None:
                expect += 1.0 / (60 + r.rb)
            assert abs(r.rrf - expect) < 1e-15
            assert r.ra is not None or r.rb is not None
