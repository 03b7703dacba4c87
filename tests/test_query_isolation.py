"""Each registered query runs on its own child session and scratch
space (queries/_registry.py), and ``Query.run`` releases the stage
boundaries it took: nothing it creates outlives it in the caller's
session, in the SparkContext's block store or on disk, and queries
running beside each other on one session do not change each other's
results."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

from tools.selfcheck import (
    CACHED_VIEW,
    cache_leftovers,
    collected,
    hold_cached_view,
    leftovers,
    persistent_rdds,
    residue,
    value_hash,
)
from yahoofinancedatalake_spark.queries.pack import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: every registered query that lands files, drains a stream or fills a
#: memory sink
SCRATCH_QUERIES = (
    "stream_daily_avg_batch_eq",
    "stream_sessions_batch_eq",
    "stream_dedup_batch_eq",
    "stream_lake_dedup_batch_eq",
    "stream_upsert_batch_eq",
    "stream_attribution_batch_eq",
    "stream_custom_state_batch_eq",
    "upsert_rows_eq",
    "stream_enrich_batch_eq",
    "stream_sliding_distinct_batch_eq",
    "orc_roundtrip",
    "compact_files_eq",
    "schema_evolution_eq",
    "stream_chi2_drift_batch_eq",
    "stream_psi_drift_batch_eq",
    "incremental_prep_counts",
    "stream_incremental_prep_batch_eq",
    "stream_dsir_score_batch_eq",
    "stream_late_data_drop_batch_eq",
    "stream_nb_score_batch_eq",
    "stream_hybrid_dedup_batch_eq",
)

#: registered queries that materialize intermediates, inside an
#: operator or between their own stages
CACHING_QUERIES = (
    "winnow_near_dup",
    "hybrid_near_dup",
    "prefix_filter_jaccard",
    "span_dedup_c4",
    "doc_keywords",
    "winnow_fast_accuracy",
    "prep_stage_counts_winnow",
    "prep_stage_counts_hybrid",
    "prep_stage_counts_paragraph",
    "stream_hybrid_dedup_batch_eq",
)

_WIDTH = "spark.sql.shuffle.partitions"


def _hash(df) -> str:
    return value_hash(*collected(df))


def _collect(name: str, spark) -> list:
    return QUERIES[name].run(spark, SF_DIR, lambda df: df.collect())


def test_scratch_queries_leave_nothing_behind(spark, tmp_path):
    """The 21 scratch queries leave no temp dir, caller temp view,
    active stream, streaming listener bus, persistent RDD or
    shuffle-width change behind. The caller's width is set to a value
    no query uses, so a runner that writes the caller's conf shows up
    even when it writes the default. The temp dir is the test
    session's private root (conftest), so another process's temp
    entries are never blamed on a query."""
    # Once per process, on first use, the JVM unpacks its native
    # codecs and Spark makes its artifact root in the temp dir; a
    # shuffling query and a parquet round trip take those out of the
    # comparison.
    _collect("top_flop", spark)
    spark.range(10).write.parquet(str(tmp_path / "warm"))
    spark.read.parquet(str(tmp_path / "warm")).collect()
    old_width = spark.conf.get(_WIDTH)
    spark.conf.set(_WIDTH, "3")
    try:
        before = residue(spark)
        for name in SCRATCH_QUERIES:
            _collect(name, spark)
        left = leftovers(before, residue(spark))
        width = spark.conf.get(_WIDTH)
    finally:
        spark.conf.set(_WIDTH, old_width)
    assert left == ""
    assert width == "3"


def test_queries_leave_the_table_cache_as_they_found_it(spark):
    """The SparkContext's one table cache is shared by every session.
    With a caller's view cached, each caching query leaves exactly
    that view in it: nothing of its own, and the caller's view not
    cleared."""
    spark.catalog.clearCache()
    hold_cached_view(spark)
    try:
        left = {}
        for name in CACHING_QUERIES:
            _collect(name, spark)
            left[name] = cache_leftovers(spark)
    finally:
        spark.catalog.dropTempView(CACHED_VIEW)
    assert {name: x for name, x in left.items() if x} == {}


def test_query_runs_release_their_stage_boundaries(spark):
    """A query's run leaves no persistent RDD behind: the blocks of
    every stage boundary it took, in operators, between its stages,
    in its runner and in the ``foreachBatch`` callbacks py4j runs on
    its own thread, are released when the run ends, with no driver GC.
    The caller's cached view is held throughout, and its RDD is not a
    query's."""
    names = (
        *CACHING_QUERIES,
        "stream_incremental_prep_batch_eq",
        "stream_dsir_score_batch_eq",
        "stream_nb_score_batch_eq",
    )
    hold_cached_view(spark)
    try:
        left = {}
        for name in names:
            before = persistent_rdds(spark)
            _collect(name, spark)
            left[name] = sorted(persistent_rdds(spark) - before)
    finally:
        spark.catalog.dropTempView(CACHED_VIEW)
    assert {name: ids for name, ids in left.items() if ids} == {}


def test_concurrent_queries_match_serial_runs(spark):
    """Eight threads on one session run a mixed set, each query twice:
    a parts=8 connected-components consumer (whose operator sizes its
    loop width by writing its session's conf), a streaming rung, a
    query that registers a fixed-name temp view, and two dashboard
    panels. Every result hash-equals the serial run, so no run
    released a boundary another thread's run still read (that read
    fails loudly), and the pool leaves the persistent RDDs exactly as
    it found them."""
    mix = (
        "dedup_clusters",
        "stream_daily_avg_batch_eq",
        "bitmap_distinct_rollup",
        "top_flop",
        "last_value_per_group",
    )

    def run_hash(name: str) -> str:
        return QUERIES[name].run(spark, SF_DIR, _hash)

    serial = {name: run_hash(name) for name in mix}
    before = persistent_rdds(spark)
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the runners' Python steps
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            runs = list(
                pool.map(
                    lambda name: (name, run_hash(name)),
                    mix * 2,
                    timeout=600,
                )
            )
    finally:
        sys.setswitchinterval(old_interval)
    assert len(runs) == len(mix) * 2
    assert {name: h for name, h in runs if h != serial[name]} == {}
    assert persistent_rdds(spark) == before


def test_reliable_checkpoint_files_go_with_the_run(spark, monkeypatch, tmp_path):
    """Under SPARK_GRAFT_RELIABLE_CHECKPOINT=1 a query's boundaries
    write ``rdd-*`` checkpoint dirs, which its run deletes on the way
    out: a long-lived session keeps no checkpoint files of a query."""
    import glob

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))

    def rdd_dirs() -> list[str]:
        ckpt = spark.sparkContext._jsc.sc().getCheckpointDir().get()
        return glob.glob(f"{ckpt.removeprefix('file:')}/rdd-*")

    during = QUERIES["doc_keywords"].run(
        spark, SF_DIR, lambda df: (df.collect(), rdd_dirs())[1]
    )
    assert during
    assert rdd_dirs() == []


def test_foreach_batch_boundaries_belong_to_the_callers_scope(spark):
    """py4j runs a ``foreachBatch`` callback on its own thread, which
    starts outside every boundary scope. ``_Scratch.drain_batches``
    runs the callback in its caller's scope, so a boundary taken there
    is released with that scope even while its frame is still held."""
    from yahoofinancedatalake_spark.queries._registry import _Scratch
    from yahoofinancedatalake_spark.session import boundary_scope, stage_boundary

    batches = spark.range(10)
    held = []
    s = _Scratch(spark)
    before = persistent_rdds(spark)
    try:
        with boundary_scope():
            s.land(batches)
            s.drain_batches(
                batches.schema,
                lambda df, _id: held.append(stage_boundary(df)),
            )
            taken = persistent_rdds(spark) - before
    finally:
        s.close()
    assert len(held) == 1 and len(taken) == 1
    assert persistent_rdds(spark) - before == set()
