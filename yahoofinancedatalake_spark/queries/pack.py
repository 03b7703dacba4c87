"""The analytic query pack (SURVEY.md §2 operator inventory as queries).

Each :class:`Query` pairs a PySpark implementation (built from the
operator library) with an ANSI-SQL oracle that DuckDB runs on the same
parquet tables. Column names and rounding are aligned on both sides —
the driver compares row count, schema, and an order-insensitive value
hash (see ``/root/repo/__spark_entry__.py``).

Determinism rules applied throughout:

- every LIMIT/top-k has a total ordering (explicit tiebreak columns);
- floating values are rounded on both sides with :func:`dround` —
  ``floor(x * 10^s + 0.5) / 10^s`` — instead of ``round()``.
  ``round()`` diverges between engines on decimal-half values
  (Spark rounds the shortest decimal repr HALF_UP, DuckDB rounds the
  binary double), while the floor form is plain IEEE arithmetic:
  identical input doubles give bit-identical outputs on any engine.
  Money-derived quantities are rounded at their *true* decimal scale
  (price·(1−disc) has 4, ·(1+tax) has 6), which puts every true
  value mid-bin after the +0.5 shift — summation-order error can
  never flip the bin;
- ratios of already-rounded (hence bit-identical) inputs are exact
  IEEE quotients on both sides — no further rounding needed.

Reference provenance is cited per query (files under /root/reference).


Layout (r7): the pack is split into per-family modules imported below
IN REGISTRATION ORDER — the registry and helpers live in
``_registry.py``, the queries in ``pack_01_relational.py`` ..
``pack_13_monitors.py``. Importing this module registers everything
and re-exports every name (helpers included) so existing
``queries.pack.X`` references keep working; the driver-staleness
rotation at the bottom then orders QUERIES for the driver window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from yahoofinancedatalake_spark.queries import _registry as _reg
from yahoofinancedatalake_spark.queries._registry import (  # noqa: F401
    QUERIES, Query, _await_stream, _const_key, _register, _scratch,
)

from yahoofinancedatalake_spark.queries import pack_01_relational as _pack_01_relational  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_02_text as _pack_02_text  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_03_timeseries as _pack_03_timeseries  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_04_dedup_ann as _pack_04_dedup_ann  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_05_forecast_search as _pack_05_forecast_search  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_06_streaming_scrub as _pack_06_streaming_scrub  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_07_training_prep as _pack_07_training_prep  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_08_scale_market as _pack_08_scale_market  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_09_joins_sampling_ann as _pack_09_joins_sampling_ann  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_10_tpch as _pack_10_tpch  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_11_vader_ml_streaming as _pack_11_vader_ml_streaming  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_12_statistics as _pack_12_statistics  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_13_monitors as _pack_13_monitors  # noqa: E402
from yahoofinancedatalake_spark.queries import pack_14_prep_serving as _pack_14_prep_serving  # noqa: E402

# Re-export every family-module name (underscore helpers included):
# tests and tools address them as queries.pack.<name>, and the split
# must not break a single existing reference. The registry merges
# last so Query/QUERIES/_register always bind to the canonical ones.
for _m in (
    _pack_01_relational,
    _pack_02_text,
    _pack_03_timeseries,
    _pack_04_dedup_ann,
    _pack_05_forecast_search,
    _pack_06_streaming_scrub,
    _pack_07_training_prep,
    _pack_08_scale_market,
    _pack_09_joins_sampling_ann,
    _pack_10_tpch,
    _pack_11_vader_ml_streaming,
    _pack_12_statistics,
    _pack_13_monitors,
    _pack_14_prep_serving,
    _reg,
):
    globals().update(
        {k: v for k, v in vars(_m).items() if not k.startswith('__')}
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query for ``entry(spark)`` — Top/Flop (W1+W2+O2)."""
    return QUERIES["top_flop"].spark(spark, sf_dir)


# ---------------------------------------------------------------------------
# Registry ordering — driver-staleness rotation
# ---------------------------------------------------------------------------

# The driver executes queries in registry insertion order under a budget
# (~50 entries/round), so ordering decides which queries get a driver
# correctness row. Rounds 1-4 used a hand-curated "freshest first" list;
# under the budget that permanently shadowed 46 mid-age queries that
# never got a driver row (VERDICT r4, "What's wrong #2"). This rotation
# is data-driven instead: it reads the committed CORRECTNESS_r*.json
# artifacts and orders by
#   1. checked-but-latest-result-red first (a known discrepancy whose
#      fix must re-confirm before anything else),
#   2. then never driver-checked (brand-new queries land here too),
#   3. then green, stalest last-green round first,
# with ties broken by registration order. Every query is guaranteed to
# eventually rotate into the driver window.


def _driver_history() -> dict[str, tuple[int, int, int]]:
    """(last_checked, last_ok, last_red) round per query from the
    committed CORRECTNESS_r*.json driver artifacts."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    hist: dict[str, tuple[int, int, int]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rn = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, v in rows.items():
            if not isinstance(v, dict):
                continue
            # "ok" = full oracle green, or a rows-only check that ran
            # and produced rows (the driver's weaker no_oracle row)
            ok = bool(
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ) or (
                v.get("err") == "no_oracle"
                and (v.get("spark_rows") or 0) > 0
            )
            lc, lo, lr = hist.get(name, (0, 0, 0))
            hist[name] = (
                max(lc, rn),
                max(lo, rn) if ok else lo,
                lr if ok else max(lr, rn),
            )
    return hist


def _reorder_for_driver() -> None:
    hist = _driver_history()

    def key(name: str) -> tuple:
        lc, lo, lr = hist.get(name, (0, 0, 0))
        if lc == 0:
            tier = 1          # never driver-checked
        elif lr >= lo:
            tier = 0          # latest driver result was red
        else:
            tier = 2          # green — stalest first
        return (tier, lo)

    # sorted() is stable: ties keep registration order
    ordered = sorted(QUERIES, key=key)
    snapshot = dict(QUERIES)
    QUERIES.clear()
    QUERIES.update({n: snapshot[n] for n in ordered})


#: query names in registration order (pack module, then definition
#: order), which the driver rotation below does not change
REGISTRATION_ORDER: tuple[str, ...] = tuple(QUERIES)
_reorder_for_driver()
