"""Property gates for the round-6 statistics / sampling operators.

Each test replays the query's rewrite against an independent
brute-force reference on randomized (seeded) planted data — shapes
the uniform testdata cannot produce (heavy ties, skewed domains,
one mega-domain) — the same adversarial posture as the oracle gates.
"""

from __future__ import annotations

import math
import random

from yahoofinancedatalake_spark.queries.pack import QUERIES

_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _write_events(spark, rows, d):
    """Write ``rows`` as ``d/events.parquet``; returns ``d`` as an
    sf_dir."""
    spark.createDataFrame(rows, _EVENTS_SCHEMA).repartition(6).write.mode(
        "overwrite"
    ).parquet(f"{d}/events.parquet")
    return str(d)


def _mannwhitney_ref(a_vals, b_vals):
    """Textbook tie-corrected Mann-Whitney over average ranks."""
    pooled = sorted(
        [(v, 0) for v in a_vals] + [(v, 1) for v in b_vals]
    )
    n = len(pooled)
    ranks = {}
    i = 0
    tie_term = 0
    while i < n:
        j = i
        while j < n and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0
        ranks[pooled[i][0]] = avg
        t = j - i
        tie_term += t * t * t - t
        i = j
    ra = sum(ranks[v] for v in a_vals)
    na, nb = len(a_vals), len(b_vals)
    u = ra - na * (na + 1) / 2.0
    var = (na * nb / 12.0) * (
        (na + nb + 1) - tie_term / ((na + nb) * (na + nb - 1.0))
    )
    z = (u - na * nb / 2.0) / math.sqrt(var)
    return u, z


class TestMannWhitney:
    def test_matches_reference_with_heavy_ties(self, spark, tmp_path):
        """A tiny discrete domain (5 distinct cent values) maximizes
        ties — where the rank-rollup identity and the tie-correction
        most easily go wrong."""
        import datetime as dt

        rng = random.Random(13)
        base = dt.datetime(2024, 3, 1)
        rows = []
        a_vals, b_vals = [], []
        for i in range(400):
            kind = rng.choice(["click", "error", "view"])
            v = rng.choice([0.05, 0.10, 0.10, 0.25, 1.00])
            if kind == "click":
                a_vals.append(round(v * 100))
            elif kind == "error":
                b_vals.append(round(v * 100))
            rows.append(
                (i, base + dt.timedelta(minutes=i), i % 7, kind, v, "{}")
            )
        d = _write_events(spark, rows, tmp_path / "mw_prop")
        [r] = QUERIES["mannwhitney_drift"].spark(spark, d).collect()
        u, z = _mannwhitney_ref(a_vals, b_vals)
        assert r.n_click == len(a_vals) and r.n_error == len(b_vals)
        assert r.u_stat == u  # exact: engine U is integer-derived
        assert abs(r.z_score - z) < 1e-12

    def test_planted_shift_is_detected(self, spark, tmp_path):
        """clicks drawn ~100 cents above errors: z must be large
        and positive (rank-sum direction check)."""
        import datetime as dt

        rng = random.Random(17)
        base = dt.datetime(2024, 3, 1)
        rows = []
        for i in range(300):
            if i % 2:
                rows.append(
                    (i, base, i, "click", 2.0 + rng.random(), "{}")
                )
            else:
                rows.append(
                    (i, base, i, "error", 1.0 + rng.random(), "{}")
                )
        d = _write_events(spark, rows, tmp_path / "mw_shift")
        [r] = QUERIES["mannwhitney_drift"].spark(spark, d).collect()
        assert r.z_score > 5.0


class TestChi2Independence:
    def test_zero_cells_contribute_expected_counts(self, spark, tmp_path):
        """Plant a type that NEVER lands in high buckets: the
        zero-observed cells must still contribute (O=0, E>0), which
        the groupBy alone would silently drop."""
        import datetime as dt

        base = dt.datetime(2024, 3, 1)
        rows = []
        i = 0
        for _ in range(50):
            rows.append((i, base, i, "click", 10.0, "{}"))  # bucket 0
            i += 1
            rows.append((i, base, i, "error", 460.0, "{}"))  # bucket 9
            i += 1
        d = _write_events(spark, rows, tmp_path / "chi_prop")
        [r] = QUERIES["chi2_independence"].spark(spark, d).collect()
        # perfectly dependent 2x2: chi2 == N, V == 1
        assert r.n_rows == 2 and r.n_cols == 2 and r.dof == 1
        assert abs(r.chi2 - 100.0) < 1e-9

    def test_reference_formula(self, spark, tmp_path):
        """Random contingency vs the direct sum((O-E)^2/E)."""
        import datetime as dt

        rng = random.Random(29)
        base = dt.datetime(2024, 3, 1)
        rows = []
        obs: dict = {}
        for i in range(600):
            t = rng.choice(["click", "error", "view"])
            vb = rng.randrange(0, 4)
            v = vb * 50.0 + 1.0
            obs[(t, vb)] = obs.get((t, vb), 0) + 1
            rows.append((i, base, i, t, v, "{}"))
        d = _write_events(spark, rows, tmp_path / "chi_ref")
        [r] = QUERIES["chi2_independence"].spark(spark, d).collect()
        types = sorted({t for t, _ in obs})
        cols = sorted({b for _, b in obs})
        n = sum(obs.values())
        rt = {t: sum(obs.get((t, b), 0) for b in cols) for t in types}
        ct = {b: sum(obs.get((t, b), 0) for t in types) for b in cols}
        chi2 = sum(
            (obs.get((t, b), 0) - rt[t] * ct[b] / n) ** 2
            / (rt[t] * ct[b] / n)
            for t in types
            for b in cols
        )
        assert abs(r.chi2 - chi2) < 1e-9


class TestDomainCapSample:
    def test_threshold_rank_equals_global_rank(self, spark, tmp_path):
        """One mega-domain (the skew case the two-pass exists for),
        several tiny ones (below the cap): the nibble-threshold rank
        must equal the naive global per-domain top-K by md5."""
        import hashlib

        rng = random.Random(31)
        rows = []
        did = 0
        for src, cnt in [("mega", 900)] + [
            (f"s{j}", rng.randrange(1, 12)) for j in range(6)
        ]:
            for _ in range(cnt):
                rows.append((did, f"t{did}", "en", src, 10))
                did += 1
        d = str(tmp_path)
        spark.createDataFrame(
            rows,
            "doc_id bigint, text string, lang string, "
            "source string, n_chars bigint",
        ).repartition(6).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        got = sorted(
            (r.source, r.doc_id)
            for r in QUERIES["domain_cap_sample"].spark(spark, d).collect()
        )
        by_src: dict = {}
        for doc_id, *_rest in rows:
            src = _rest[2]
            h = hashlib.md5(str(doc_id).encode()).hexdigest()
            by_src.setdefault(src, []).append((h, doc_id))
        expected = sorted(
            (src, doc_id)
            for src, lst in by_src.items()
            for _, doc_id in sorted(lst)[:12]
        )
        assert got == expected


class TestBenford:
    def test_digit_extraction_and_law(self, spark, tmp_path):
        """Prices planted per leading digit; frequencies must match
        the plant exactly and the expected column the log10 law."""
        rows = []
        i = 0
        counts = {1: 30, 2: 17, 9: 3}
        for digit, cnt in counts.items():
            for j in range(cnt):
                price = digit * 1000.0 + j + 0.37
                rows.append((i, i, 1, 1, 1.0, price))
                i += 1
        d = str(tmp_path)
        spark.createDataFrame(
            rows,
            "l_orderkey bigint, l_linenumber bigint, l_partkey bigint,"
            " l_suppkey bigint, l_quantity double, l_extendedprice double",
        ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        out = {
            r.digit: r
            for r in QUERIES["benford_digits"].spark(spark, d).collect()
        }
        assert set(out) == set(counts)
        tot = sum(counts.values())
        for dgt, cnt in counts.items():
            assert out[dgt].n == cnt
            assert abs(out[dgt].obs_freq - cnt / tot) < 1e-12
            assert abs(
                out[dgt].benford_freq - math.log10(1 + 1 / dgt)
            ) < 1e-12


class TestRangeFrame:
    def test_gap_days_shrink_the_frame(self, spark, tmp_path):
        """Planted sparse days: the RANGE frame must count calendar
        distance, not row distance — a 7-day trailing window at day 9
        sees only day 9 when days 2..8 are missing (ROWS 6 PRECEDING
        would reach back to days 0 and 1)."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        # odd cent sums survive the sparsity filter: plant odd-valued
        # days 0, 1, 9 and an even (filtered) day 5
        for day, val in [(0, 0.01), (1, 0.03), (5, 0.02), (9, 0.05)]:
            rows.append(
                (eid, t0 + dt.timedelta(days=day), eid, "click", val, "{}")
            )
            eid += 1
        d = _write_events(spark, rows, tmp_path / "rf_prop")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        got = {
            r.day_index: (r.win_cents, r.win_days)
            for r in QUERIES["range_frame_trailing_7d"]
            .spark(spark, d)
            .collect()
        }
        assert got == {0: (1, 1), 1: (4, 2), 9: (5, 1)}


class TestTheilSen:
    def test_outlier_day_barely_moves_the_median_slope(
        self, spark, tmp_path
    ):
        """A clean cents-per-day trend of +100 with ONE wild outlier
        day: the pairwise-slope median must stay at ~100 (the
        estimator's whole point), and with the outlier removed it
        must equal the planted slope exactly."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        for day in range(20):
            cents = 1000 + 100 * day
            if day == 10:
                cents = 90_000  # the outlier
            rows.append(
                (eid, t0 + dt.timedelta(days=day), eid, "click",
                 cents / 100.0, "{}")
            )
            eid += 1
        d = _write_events(spark, rows, tmp_path / "ts_prop")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        [r] = (
            QUERIES["theilsen_trend_daily"].spark(spark, d).collect()
        )
        assert r.n_slopes == 190
        assert abs(r.slope_cents_per_day - 100.0) < 1e-9

    def test_exact_median_on_even_and_odd_counts(self, spark, tmp_path):
        """3 days -> 3 slopes (odd median = middle); 4 days -> 6
        slopes (even median = mean of middles) — the rank arithmetic
        must hit both branches exactly."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        # days 0,1,2 with cents 0, 100, 400 -> slopes {100, 300, 200}
        rows = [
            (i, t0 + dt.timedelta(days=day), i, "click", c / 100.0, "{}")
            for i, (day, c) in enumerate([(0, 0), (1, 100), (2, 400)])
        ]
        d = _write_events(spark, rows, tmp_path / "ts_odd")
        [r] = QUERIES["theilsen_trend_daily"].spark(spark, d).collect()
        assert r.n_slopes == 3 and r.slope_cents_per_day == 200.0
        # days 0..3 cents 0,100,400,500 -> slopes
        # {100, 200, 300/2=...}: pairwise = [100,200,166.66,300,200,100]
        rows = [
            (i, t0 + dt.timedelta(days=day), i, "click", c / 100.0, "{}")
            for i, (day, c) in enumerate(
                [(0, 0), (1, 100), (2, 400), (3, 500)]
            )
        ]
        d = _write_events(spark, rows, tmp_path / "ts_even")
        [r] = QUERIES["theilsen_trend_daily"].spark(spark, d).collect()
        slopes = sorted(
            [100.0, 200.0, 500.0 / 3.0, 300.0, 200.0, 100.0]
        )
        want = (slopes[2] + slopes[3]) / 2.0
        assert r.n_slopes == 6 and r.slope_cents_per_day == want


class TestMannKendall:
    def test_monotone_and_flat_series(self, spark, tmp_path):
        """Strictly increasing series: S = C(n,2), z large positive.
        All-tied series: variance degenerates -> NULL z."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        for day in range(15):
            rows.append(  # strictly rising clicks
                (eid, t0 + dt.timedelta(days=day), eid, "click",
                 (100 + day) / 100.0, "{}")
            )
            eid += 1
            rows.append(  # perfectly flat errors
                (eid, t0 + dt.timedelta(days=day), eid, "error",
                 0.42, "{}")
            )
            eid += 1
        d = _write_events(spark, rows, tmp_path / "mk_prop")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        got = {
            r.event_type: r
            for r in QUERIES["mann_kendall_trend"].spark(spark, d).collect()
        }
        assert got["click"].s_stat == 15 * 14 // 2 == 105
        assert got["click"].z_score > 3.0
        assert got["error"].s_stat == 0
        assert got["error"].z_score is None  # all tied: var_s == 0

    def test_reference_variance_with_ties(self, spark, tmp_path):
        """Tied daily values: S and the tie-corrected variance must
        match the textbook formula computed independently."""
        import datetime as dt
        import itertools
        import math

        t0 = dt.datetime(2024, 1, 1)
        cents = [100, 300, 300, 200, 500, 100, 400]
        rows = [
            (i, t0 + dt.timedelta(days=i), i, "click", c / 100.0, "{}")
            for i, c in enumerate(cents)
        ]
        d = _write_events(spark, rows, tmp_path / "mk_ref")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        [r] = QUERIES["mann_kendall_trend"].spark(spark, d).collect()
        s_ref = sum(
            (b > a) - (b < a)
            for a, b in itertools.combinations(cents, 2)
        )
        n = len(cents)
        tie_counts = [cents.count(v) for v in set(cents)]
        var_ref = (
            n * (n - 1) * (2 * n + 5)
            - sum(t * (t - 1) * (2 * t + 5) for t in tie_counts)
        ) / 18.0
        z_ref = (s_ref - 1) / math.sqrt(var_ref)
        assert r.s_stat == s_ref and r.n_days == n
        assert abs(r.var_s - var_ref) < 1e-12
        assert abs(r.z_score - z_ref) < 1e-12


class TestCusum:
    def test_locates_a_planted_mean_shift(self, spark, tmp_path):
        """Level 100 cents for days 0-9, level 500 for days 10-19:
        |S_k| peaks exactly at the last pre-shift day (k=9)."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for day in range(20):
            c = 100 if day < 10 else 500
            rows.append(
                (day, t0 + dt.timedelta(days=day), day, "click",
                 c / 100.0, "{}")
            )
        d = _write_events(spark, rows, tmp_path / "cusum_prop")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        [r] = QUERIES["cusum_changepoint"].spark(spark, d).collect()
        assert r.changepoint_day == 9 and r.n_days == 20
        # n*S_9 = n*cum_9 - 9... k=10 rows through day 9:
        # cum=1000, k=10, tot=6000, n=20 -> |20*1000 - 10*6000| = 40000
        assert r.abs_n_cusum == 40_000

    def test_tie_breaks_to_the_earlier_day(self, spark, tmp_path):
        """A symmetric V-shaped series ties |S_k| at both shoulders;
        the earlier day must win deterministically."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        cents = [300, 100, 300]  # mean ~233; |S| ties at k=1 vs k=2
        rows = [
            (i, t0 + dt.timedelta(days=i), i, "click", c / 100.0, "{}")
            for i, c in enumerate(cents)
        ]
        d = _write_events(spark, rows, tmp_path / "cusum_tie")
        from yahoofinancedatalake_spark.queries.pack import QUERIES

        [r] = QUERIES["cusum_changepoint"].spark(spark, d).collect()
        # nS_1 = 3*300-1*700 = 200; nS_2 = 3*400-2*700 = -200: tie on
        # |.|, day 0 wins
        assert r.changepoint_day == 0 and r.abs_n_cusum == 200


# ---------------------------------------------------------------------------
# Theil-Sen day-sampling mode (r7): bounded-window equivalence
# ---------------------------------------------------------------------------


def test_theilsen_sampling_equals_exact_on_bounded_window(spark):
    """With the day cap at or above the calendar span the sample keeps
    every day, so the sampled kernel must equal the exact query
    bit-for-bit — the equivalence that licenses the sampled variant as
    the multi-year-span fallback."""
    from yahoofinancedatalake_spark.queries.pack_13_monitors import (
        _daily_cents,
        _sample_days,
        _theilsen_from_daily,
    )

    sf = "/root/testdata/sf0.001"
    daily = _daily_cents(spark, sf)
    exact = _theilsen_from_daily(daily).collect()
    capped = _theilsen_from_daily(_sample_days(daily, 10_000)).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in capped]
    assert exact  # non-degenerate


def test_theilsen_sampled_is_deterministic_and_bounded(spark):
    """m=20 of the ~30-day calendar: the md5 day subset is a fixed
    function of the data, so two runs agree exactly and every type
    has exactly C(min(n_days, 20), 2) slopes."""
    from yahoofinancedatalake_spark.queries.pack import QUERIES
    from yahoofinancedatalake_spark.queries.pack_13_monitors import (
        _daily_cents,
    )

    sf = "/root/testdata/sf0.001"
    r1 = QUERIES["theilsen_trend_sampled"].spark(spark, sf).collect()
    r2 = QUERIES["theilsen_trend_sampled"].spark(spark, sf).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    days = {
        r["event_type"]: r["n"]
        for r in _daily_cents(spark, sf)
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for row in r1:
        m = min(days[row["event_type"]], 20)
        assert row["n_slopes"] == m * (m - 1) // 2


def test_psi_drift_properties(spark, tmp_path):
    """PSI is a sum of termwise-nonnegative contributions ((p-q) and
    ln(p/q) share sign), zero iff the two distributions agree on every
    band; counts must partition the fact table."""
    from yahoofinancedatalake_spark.queries.pack import QUERIES
    from yahoofinancedatalake_spark.catalog import load_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["psi_drift"].spark(spark, sf).collect()
    assert rows
    ev = load_table(spark, sf, "events")
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    for r in rows:
        assert r["psi"] >= 0.0, r
        assert r["n_base"] + r["n_cur"] == totals[r["event_type"]], r
    # identical distributions → PSI == 0 exactly (smoothed p == q):
    # score a degenerate one-type frame where both periods see the
    # same single band the same number of times, via the same bands
    from yahoofinancedatalake_spark.queries.pack_13_monitors import (
        q_psi_drift,
    )
    import datetime as dt

    sym = spark.createDataFrame(
        [
            # 4 events, bands identical across the day-15 boundary
            (1, dt.datetime(2024, 1, 2), "x", 10.0, None),
            (2, dt.datetime(2024, 1, 3), "x", 60.0, None),
            (3, dt.datetime(2024, 1, 20), "x", 10.0, None),
            (4, dt.datetime(2024, 1, 21), "x", 60.0, None),
        ],
        "event_id long, ts timestamp, event_type string, value double,"
        " props string",
    )
    d = str(tmp_path)
    sym.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = q_psi_drift(spark, d).collect()
    assert len(out) == 1 and out[0]["psi"] == 0.0


def test_js_divergence_properties(spark, tmp_path):
    """JSD bounds (0 <= nats <= ln 2), exact zero on identical corpora,
    and determinism of the sequential fold."""
    import math

    from yahoofinancedatalake_spark.queries.pack import QUERIES

    sf = "/root/testdata/sf0.001"
    r1 = QUERIES["js_divergence_corpora"].spark(spark, sf).collect()[0]
    r2 = QUERIES["js_divergence_corpora"].spark(spark, sf).collect()[0]
    assert tuple(r1) == tuple(r2)  # fold is deterministic
    assert 0.0 <= r1["jsd_nats"] <= math.log(2.0) + 1e-9
    assert 0.0 <= r1["jsd_normalized"] <= 1.0 + 1e-9
    # min(distinct words, 200) vocab rows + the OTHER bucket
    assert 2 <= r1["n_vocab"] <= 201

    # identical corpora: 'alpha' (md5 '2...' -> corpus 0) and 'beta'
    # (md5 '9...' -> corpus 1) carry the SAME texts -> JSD == 0 exactly
    from yahoofinancedatalake_spark.queries.pack_13_monitors import (
        q_js_divergence_corpora,
    )

    texts = ["the quick brown fox", "jumps over the lazy dog"] * 3
    rows = [(i, t, "en", src, len(t))
            for src in ("alpha", "beta")
            for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    d = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = q_js_divergence_corpora(spark, d).collect()[0]
    assert out["jsd_nats"] == 0.0 and out["jsd_normalized"] == 0.0
    assert out["n_tokens_a"] == out["n_tokens_b"]


def test_seasonal_decomposition_reconstructs(spark):
    """Additivity: trend + seasonal + remainder == cents (within the
    3x 1e-6 rounding of the components) on every interior day; edge
    days (incomplete centered window) carry NULL components."""
    from yahoofinancedatalake_spark.queries.pack import QUERIES

    rows = (
        QUERIES["seasonal_decompose_daily"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    interior = [r for r in rows if r["trend"] is not None]
    edge = [r for r in rows if r["trend"] is None]
    assert interior and edge  # both regimes present
    for r in interior:
        got = r["trend"] + r["seasonal"] + r["remainder"]
        assert abs(got - r["cents"]) < 2e-6 * max(1.0, abs(r["cents"])), r
    for r in edge:
        assert r["seasonal"] is None and r["remainder"] is None
    # first/last 3 days of each series are exactly the edges
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for tr in by_type.values():
        ds = sorted(x["day_index"] for x in tr)
        nulls = {x["day_index"] for x in tr if x["trend"] is None}
        assert nulls == set(ds[:3]) | set(ds[-3:])


def test_seasonal_anomaly_detects_planted_spike(spark, tmp_path):
    """A flat daily series with one interior spike day: that day must
    surface with is_anomaly and the top |modified z|; a perfectly
    constant type has MAD 0 -> NULL scores, never a false anomaly."""
    import datetime as dt

    from yahoofinancedatalake_spark.queries.pack import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = []
    i = 0
    for day in range(28):
        # 'spiky': flat 10.0 except day 14 at 500.0
        v = 500.0 if day == 14 else 10.0
        for _ in range(4):
            rows.append((i, base + dt.timedelta(days=day, hours=1),
                         i % 5, "spiky", v, "{}"))
            i += 1
        # 'flat': constant forever
        for _ in range(4):
            rows.append((i, base + dt.timedelta(days=day, hours=2),
                         i % 5, "flat", 10.0, "{}"))
            i += 1
    d = _write_events(spark, rows, tmp_path / "anom_prop")
    out = QUERIES["seasonal_anomaly_days"].spark(spark, d).collect()
    spiky = [r for r in out if r["event_type"] == "spiky"]
    flat = [r for r in out if r["event_type"] == "flat"]
    assert len(spiky) == 3 and len(flat) == 3
    # the planted day leads spiky's ranking and clears the 3.5 cut
    top = max(spiky, key=lambda r: abs(r["modified_z"] or 0.0))
    assert top["day_index"] == 14 and top["is_anomaly"] is True
    # constant series: MAD 0 -> NULL scores, anomaly never claimed
    for r in flat:
        assert r["modified_z"] is None and r["is_anomaly"] is False
