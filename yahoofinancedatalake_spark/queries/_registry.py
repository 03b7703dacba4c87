"""Query-pack registry: the Query record, the QUERIES dict, the
runner that owns each query's session and scratch space, and the
shared helpers every pack_* family module uses. See pack.py for the
pack-wide determinism rules and the driver rotation."""

from __future__ import annotations

import contextvars
import functools
import re as _re
import shutil
import tempfile
from dataclasses import dataclass
from typing import Any, Callable, Optional

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
from yahoofinancedatalake_spark.session import boundary_scope, stage_boundary


@dataclass(frozen=True)
class Query:
    """One driver-checkable query: Spark impl + optional DuckDB oracle."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible, rows-only check
    doc: str = ""

    def run(
        self,
        spark: SparkSession,
        sf_dir: str,
        consume: Callable[[DataFrame], Any],
    ) -> Any:
        """Run the query, hand its frame to ``consume`` (a collect, a
        noop write, a value hash) and return what that returns. The
        stage boundaries the run took are released on the way out, on
        every exit path, so the session keeps nothing of the query and
        the next query does not pay for its cleanup. The frame must
        not be read after ``consume`` returns."""
        with boundary_scope():
            return consume(self.spark(spark, sf_dir))


QUERIES: dict[str, Query] = {}


def _register(
    name: str,
    oracle: Optional[str],
    doc: str = "",
    parts: Optional[int] = None,
):
    """Register a query. Its runner owns the query's Spark state.

    Each call runs the query on its own ``spark.newSession()``: a
    child session with its own SQL conf, temp views and streams that
    shares the SparkContext. The table cache belongs to the
    SparkContext and is shared by every session, so a query leaves it
    as it found it: what it persists it unpersists in a ``finally``,
    what its lazy result reads twice it takes from ``stage_boundary``,
    and it never clears the cache. ``parts`` sets
    ``spark.sql.shuffle.partitions`` on that child only. The returned
    DataFrame stays bound to the child, so the width holds when the
    caller executes it later, and the caller's session is never
    written: a query's result and plan cannot depend on a query that
    ran before it or beside it on another thread. Without ``parts``
    the child inherits the session's configured width.

    A query that needs scratch space takes it from ``_scratch(spark)``.
    The runner then materializes the result with ``stage_boundary``
    (it may read the scratch dir or a memory sink) and closes the
    scratch on every exit path.

    The blocks of every ``stage_boundary`` the query takes, the
    runner's own included, belong to the boundary scope of its
    caller: ``Query.run`` releases them once the result is consumed.
    A caller of the bare runner (``Query.spark``) outside any scope
    leaves them to the ContextCleaner, which frees them only after a
    driver GC.

    Why ``parts``: the `documents`/`embeddings` side tables are 3-5
    orders of magnitude smaller than the fact tables, and a
    32-partition shuffle over 2 000 rows costs more in task scheduling
    than the work (measured at sf0.1: ivf_recall 7.9s → 1.8s at 8
    partitions). AQE's coalescing doesn't recover this because
    ``parallelismFirst`` keeps post-shuffle parallelism at the core
    count (and turning it off globally single-threads the CPU-bound
    verify stages — measured 3.5s → 18.7s on simhash_near_dup).
    Stateful streaming allocates one state store per shuffle
    partition per stateful operator, and store setup and commit
    dominate gate-scale runs (the stream-stream join drops 9.7s →
    6.5s at sf0.1 going 32 → 8), so the streaming rungs run at 8 too.
    A production deployment sizes this per workload the same way.
    """

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
            session = spark.newSession()
            if parts:
                session.conf.set("spark.sql.shuffle.partitions", str(parts))
            scratch = _SCRATCH[session] = _Scratch(session)
            try:
                df = fn(session, sf_dir)
                return stage_boundary(df) if scratch.dir else df
            finally:
                del _SCRATCH[session]
                scratch.close()

        QUERIES[name] = Query(name=name, spark=runner, oracle=oracle, doc=doc)
        return runner

    return wrap


#: Gate-tier membership: queries that exist to VERIFY
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


class _Scratch:
    """The scratch space of one query run, owned by its runner.

    It holds a work dir (made on first use), the frames landed into
    it, availableNow drains of streams over them and the memory sinks
    those fill. Every drain stops its stream and releases its
    streaming listeners on the way out; ``close`` drops the sinks and
    removes the dir, and the runner calls it on every exit path, a
    drain timeout included. The runner's child session is private to
    the query, so fixed sink and checkpoint names cannot collide.
    """

    def __init__(self, session: SparkSession):
        self.session = session
        self.dir: Optional[str] = None
        self.sinks: list[str] = []

    def path(self, name: str) -> str:
        if self.dir is None:
            self.dir = tempfile.mkdtemp(prefix="graft_scratch_")
        return f"{self.dir}/{name}"

    def land(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Write ``df``, as partitioned, to the parquet dir that
        ``read_stream`` reads."""
        df.write.mode(mode).parquet(self.path("landed"))

    def read_stream(self, schema) -> DataFrame:
        return self.session.readStream.schema(schema).parquet(
            self.path("landed")
        )

    def drain_batches(self, schema, fn) -> None:
        """Drain the landed files once through ``foreachBatch(fn)``.
        py4j calls ``fn`` on its own thread, which starts in an empty
        context; ``fn`` runs in this caller's, so the stage boundaries
        it takes belong to the caller's boundary scope."""
        ctx = contextvars.copy_context()
        writer = self.read_stream(schema).writeStream
        self.drain(writer.foreachBatch(lambda df, i: ctx.run(fn, df, i)))

    def drain(self, writer, ck: str = "ck") -> None:
        """Run ``writer`` once to the end of its input (availableNow)
        under checkpoint ``ck``; runs sharing a ``ck`` see only the
        files landed since the previous one."""
        q = (
            writer.option("checkpointLocation", self.path(ck))
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_stream(q)
        finally:
            q.stop()
            # A session that runs a stream, and the clone of it the
            # stream executes on, each put a streaming listener bus on
            # the SparkContext's bus for good: left there, it keeps the
            # session alive and every later Spark event is dispatched
            # to it.
            bus = self.session.sparkContext._jsc.sc().listenerBus()
            clone = q._jsq.streamingQuery().sparkSessionForStream()
            for session in (self.session._jsparkSession, clone):
                bus.removeListener(session.streams().listenerBus())

    def to_memory(self, stream: DataFrame, mode: str) -> DataFrame:
        """Drain ``stream`` into a memory sink; returns the sink table."""
        name = f"sink_{len(self.sinks)}"
        self.sinks.append(name)
        writer = stream.writeStream.format("memory").queryName(name)
        self.drain(writer.outputMode(mode), ck=name)
        return self.session.table(name)

    def close(self) -> None:
        for name in self.sinks:
            self.session.catalog.dropTempView(name)
        if self.dir is not None:
            shutil.rmtree(self.dir, ignore_errors=True)


#: child session -> its query's scratch, while the runner runs
_SCRATCH: dict[SparkSession, _Scratch] = {}


def _scratch(spark: SparkSession) -> _Scratch:
    """The scratch space of the query running on ``spark``."""
    return _SCRATCH[spark]
