"""Query-pack oracle parity at sf0.001 — the in-repo correctness gate.

Mirrors the driver's comparison (row count + schema + order-insensitive
value hash) for every oracle'd query, small-scale so the suite stays
fast. tools/selfcheck.py runs the same logic at sf0.01.
"""

from __future__ import annotations

import duckdb
import pytest

from __spark_entry__ import entry, oracle_sql
from tools.selfcheck import collected, value_hash
from yahoofinancedatalake_spark.queries.pack import QUERIES
from yahoofinancedatalake_spark.schemas import TESTDATA_TABLES

SF_DIR = "/root/testdata/sf0.001"

#: The ANN recall gates assert thresholds calibrated for the driver's
#: gate scale (sf0.01) — at sf0.001 the 100-vector corpus puts true
#: top-5 neighbors at much lower cosine, where LSH/IVF collision
#: probability legitimately drops. Their oracles are constant SELECTs
#: (no table reference), so running just the Spark side at sf0.01
#: keeps the comparison exact.
_SF_OVERRIDE = {
    "ann_recall": "/root/testdata/sf0.01",
    "ivf_recall": "/root/testdata/sf0.01",
}


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


_ORACLES = oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle_con, name):
    scols, srows = QUERIES[name].run(
        spark, _SF_OVERRIDE.get(name, SF_DIR), collected
    )
    if name not in _ORACLES:
        assert len(srows) >= 0  # rows-only check (non-SQL-expressible op)
        return
    res = oracle_con.execute(_ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"{name}: row count"
    assert sorted(scols) == sorted(ocols), f"{name}: schema"
    assert value_hash(scols, srows) == value_hash(ocols, orows), (
        f"{name}: value hash"
    )


def test_entry_smoke(spark):
    df = entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["user_id", "last_day", "last_value", "delta"]


def test_driver_rotation_ordering_invariants():
    """The registry order must follow the staleness rotation contract
    derived from the committed CORRECTNESS_r*.json artifacts:
    latest-red queries first, then never-driver-checked, then greens
    by ascending last-green round. Guards the rotation against
    refactors — a wrong order silently starves queries of driver
    coverage."""
    from yahoofinancedatalake_spark.queries.pack import (
        REGISTRATION_ORDER,
        _driver_history,
    )

    hist = _driver_history()
    if not hist:  # fresh clone without driver artifacts
        return

    def tier(name: str) -> int:
        lc, lo, lr = hist.get(name, (0, 0, 0))
        if lc == 0:
            return 1
        return 0 if lr >= lo else 2

    names = list(QUERIES)
    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers), "tiers must be non-decreasing"
    # within the green tier, last-green rounds ascend
    greens = [hist[n][1] for n, t in zip(names, tiers) if t == 2]
    assert greens == sorted(greens), "greens must be stalest-first"
    # ties keep registration order: no hand-kept pin list reorders them
    reg = {n: i for i, n in enumerate(REGISTRATION_ORDER)}
    keys = [(t, hist.get(n, (0, 0, 0))[1], reg[n]) for n, t in zip(names, tiers)]
    assert keys == sorted(keys), "ties must keep registration order"
    # NOTE: no assertion that every tier is POPULATED — which tiers
    # exist is a property of the committed driver artifacts (e.g. a
    # round that fixes all reds empties tier 0), not of the rotation
    # logic. The ordering invariants above are the contract.
