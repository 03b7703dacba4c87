"""Each registered query runs on its own child session and scratch
space (queries/_registry.py): nothing it creates outlives it in the
caller's session or on disk, and queries running beside each other
on one session do not change each other's results."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

from __spark_entry__ import queries
from tools.selfcheck import (
    CACHED_VIEW,
    cache_leftovers,
    hold_cached_view,
    leftovers,
    residue,
    value_hash,
)

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
    return value_hash(df.columns, [tuple(r) for r in df.collect()])


def test_scratch_queries_leave_nothing_behind(spark, tmp_path):
    """The 21 scratch queries leave no temp dir, caller temp view,
    active stream, streaming listener bus or shuffle-width change
    behind. The caller's width is set to a value no query uses, so a
    runner that writes the caller's conf shows up even when it writes
    the default."""
    qs = queries()
    # Once per process, on first use, the JVM unpacks its native
    # codecs and Spark makes its artifact root in the temp dir; a
    # shuffling query and a parquet round trip take those out of the
    # comparison.
    qs["top_flop"](spark, SF_DIR).collect()
    spark.range(10).write.parquet(str(tmp_path / "warm"))
    spark.read.parquet(str(tmp_path / "warm")).collect()
    old_width = spark.conf.get(_WIDTH)
    spark.conf.set(_WIDTH, "3")
    try:
        before = residue(spark)
        for name in SCRATCH_QUERIES:
            qs[name](spark, SF_DIR).collect()
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
    qs = queries()
    spark.catalog.clearCache()
    hold_cached_view(spark)
    try:
        left = {}
        for name in CACHING_QUERIES:
            qs[name](spark, SF_DIR).collect()
            left[name] = cache_leftovers(spark)
    finally:
        spark.catalog.dropTempView(CACHED_VIEW)
    assert {name: x for name, x in left.items() if x} == {}


def test_concurrent_queries_match_serial_runs(spark):
    """Four threads on one session run a mixed set, each query twice:
    a parts=8 connected-components consumer (whose operator sizes its
    loop width by writing its session's conf), a streaming rung, a
    query that registers a fixed-name temp view, and two dashboard
    panels. Every result hash-equals the serial run."""
    mix = (
        "dedup_clusters",
        "stream_daily_avg_batch_eq",
        "bitmap_distinct_rollup",
        "top_flop",
        "last_value_per_group",
    )
    qs = queries()
    serial = {name: _hash(qs[name](spark, SF_DIR)) for name in mix}
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave the runners' Python steps
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            runs = list(
                pool.map(
                    lambda name: (name, _hash(qs[name](spark, SF_DIR))),
                    mix * 2,
                    timeout=600,
                )
            )
    finally:
        sys.setswitchinterval(old_interval)
    assert len(runs) == len(mix) * 2
    assert {name: h for name, h in runs if h != serial[name]} == {}
