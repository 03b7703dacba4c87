"""Query-pack registry: the Query record, the QUERIES dict, and
the shared registration/runtime helpers every pack_* family
module uses. Split from pack.py (r7, pure refactor) — see
pack.py for the pack-wide determinism rules and the driver
rotation."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.catalog import fan_out, load_table
from yahoofinancedatalake_spark.functions.sentiment import (
    NEGATIVE_WORDS,
    POSITIVE_WORDS,
    SCALE,
    sentiment_score_expr,
)
from yahoofinancedatalake_spark.functions.scalars import (
    dround,
    sentiment_label,
    sql_dround,
)
from yahoofinancedatalake_spark.operators.selection import (  # noqa: F401
    _const_key,
)
from yahoofinancedatalake_spark.operators.windows import (
    lag_delta,
    last_row_per_group,
    top_k,
    top_k_with_other,
)


@dataclass(frozen=True)
class Query:
    """One driver-checkable query: Spark impl + optional DuckDB oracle."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible, rows-only check
    doc: str = ""


QUERIES: dict[str, Query] = {}


def _register(
    name: str,
    oracle: Optional[str],
    doc: str = "",
    parts: Optional[int] = None,
):
    """Register a query; ``parts`` right-sizes the shuffle for it.

    ``spark.sql.shuffle.partitions`` is read at *execution* time, and
    both the driver and ``bench.py`` execute a query immediately after
    constructing it — so setting the conf at construction time scopes
    it to this query in practice. Every runner sets the conf (to
    ``parts`` or back to the session default), so queries can't
    inherit a neighbour's setting.

    Why: the `documents`/`embeddings` side tables are 3-5 orders of
    magnitude smaller than the fact tables, and a 32-partition shuffle
    over 2 000 rows costs more in task scheduling than the work
    (measured at sf0.1: ivf_recall 7.9s → 1.8s at 8 partitions).
    AQE's coalescing doesn't recover this because
    ``parallelismFirst`` keeps post-shuffle parallelism at the core
    count (and turning it off globally single-threads the CPU-bound
    verify stages — measured 3.5s → 18.7s on simhash_near_dup). A
    production deployment sizes this per workload the same way.
    """

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        import functools  # noqa: PLC0415

        @functools.wraps(fn)
        def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
            from yahoofinancedatalake_spark.session import (  # noqa: PLC0415
                DEFAULT_SHUFFLE_PARTITIONS,
            )

            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(parts or DEFAULT_SHUFFLE_PARTITIONS),
            )
            return fn(spark, sf_dir)

        QUERIES[name] = Query(name=name, spark=runner, oracle=oracle, doc=doc)
        return runner

    return wrap


import contextlib
import re as _re

#: Gate-tier membership (VERDICT r9 #2): queries that exist to VERIFY
#: the engine — batch-equivalence twins, approximation-accuracy/recall
#: gates, and the composed-pipeline count gates — as opposed to
#: production-shaped operator queries a user would run. Derived from
#: the registry itself (suffix convention + the two composed gates
#: whose names predate it) the same way the TPC-H suite derives from
#: docstrings, so membership can't silently desync from the QUERIES
#: dict; ``gate_tier_names`` validates the explicit extras against it.
#: Why the split matters: gates are composed multi-job verification
#: harnesses (~40% of bench wall-clock, the two incremental-prep gates
#: alone ~30s each) whose run-to-run noise drowns the per-OPERATOR
#: regression signal when everything lands in one total.
_GATE_SUFFIX = _re.compile(
    r"(_batch_eq|_eq|_gate|_accuracy|_recall|_ndcg)$"
)
_GATE_EXTRA = frozenset(
    {
        "prep_stage_counts",
        "incremental_prep_counts",
        "prep_stage_counts_winnow",
        "prep_stage_counts_hybrid",
        "prep_stage_counts_paragraph",
    }
)


def gate_tier_names() -> set[str]:
    """Names of the gate-tier queries, validated against the registry
    (an extra that no longer exists = loud failure, not silent drift).
    """
    unknown = _GATE_EXTRA - QUERIES.keys()
    if unknown:
        raise AssertionError(
            f"gate-tier extras not in QUERIES: {sorted(unknown)}"
        )
    return {n for n in QUERIES if _GATE_SUFFIX.search(n)} | set(_GATE_EXTRA)


def _await_stream(q, timeout: int = 300) -> None:
    """Block on a memory/foreachBatch stream; hard-fail on timeout.

    ``awaitTermination(timeout)`` returns False on timeout rather than
    raising; reading a complete-mode memory sink mid-replay would then
    silently compute from a partial table. Every streaming gate query
    routes through here so a stall surfaces as an error in bench and
    ad-hoc runs, not only in oracle parity.
    """
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish "
            f"within {timeout}s"
        )


@contextlib.contextmanager
def _scoped_shuffle(spark: SparkSession, n: int):
    """Temporarily size shuffle partitions to the data.

    Stateful streaming allocates one state store per shuffle partition
    per stateful operator, and store setup/commit dominates gate-scale
    runs (measured: the stream-stream join drops 9.7s → 6.5s at sf0.1
    going 32 → 8). The result set is partitioning-invariant; a real
    deployment sizes this to key cardinality × arrival rate.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


