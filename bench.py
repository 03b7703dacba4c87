"""Benchmark harness: run the query pack at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "query_pack_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}``

Each query is forced end-to-end with the ``noop`` datasource sink
(full computation, no driver collect bottleneck, no disk write).
JVM/session startup is excluded; one warm-up query runs first so
parquet footer caching and codegen warm-up don't pollute q1.

Stall auto-adjudication (VERDICT r10 #2): this box intermittently
stalls a single query mid-bench (measured r9/r10: four disjoint
single-query >2x flags per round, each exonerated by an isolated
fresh-JVM re-run — doc_keywords 21.3s -> 1.31s solo, cms_heavy_hitters
28.1s -> 1.24s, etc.). The manual protocol is now automatic: after the
run, every query whose time exceeds the committed
``bench_baseline.json`` entry by the bench_diff gate rule (>2x AND
>1s) is re-run SOLO in a fresh subprocess (``--solo name``: fresh JVM,
same warm-ups, only that query), and the artifact records
``adjudications: {name: {in_bench_s, solo_s, baseline_s,
adjudication}}`` — ``host_stall`` when the solo time is back in band,
``regression`` when it reproduces. Probes are capped (a broadly slow
run is a real regression, not a stall) and skipped inside solo
subprocesses and when ``SPARK_GRAFT_NO_ADJUDICATE=1``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yahoofinancedatalake_spark.queries.pack import QUERIES, _await_stream  # noqa: E402
from yahoofinancedatalake_spark.session import (  # noqa: E402
    boundary_scope,
    get_spark,
    tmpfs_release,
    tmpfs_scratch,
)


def force(df) -> None:
    """Execute the full plan without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()


#: bench_diff.py's regression rule, reused verbatim for the flag AND
#: the exoneration check so the three tools share one definition.
ADJ_RATIO = 2.0
ADJ_MIN_ABS_S = 1.0

#: at most this many solo probes per run — a run where MORE queries
#: blow past the gate is a real regression (or a sick box) and solo
#: probes would just burn minutes restating it
ADJ_MAX_PROBES = 5


def _parse_args(argv: list[str]) -> set[str] | None:
    """``--solo a,b,c`` → the query subset to run; None = full run."""
    if "--solo" in argv:
        i = argv.index("--solo")
        if i + 1 >= len(argv):
            raise SystemExit("usage: bench.py [--solo name[,name...]]")
        names = {n for n in argv[i + 1].split(",") if n}
        unknown = names - QUERIES.keys()
        if unknown:
            raise SystemExit(f"--solo names not registered: {sorted(unknown)}")
        return names
    return None


def _baseline_queries() -> dict[str, float]:
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_baseline.json"
    )
    try:
        with open(path) as f:
            q = json.load(f).get("queries", {})
        return {k: float(v) for k, v in q.items()}
    except (OSError, ValueError):
        return {}


def _adjudicate(
    timings: dict[str, float], sf_dir: str
) -> dict[str, dict]:
    """Fresh-subprocess solo re-run of every >gate flag vs the
    committed baseline; returns the adjudication table (empty when
    nothing flagged / no baseline / probing disabled).

    Provenance (ADVICE r11): flags here are computed against
    ``bench_baseline.json`` — the artifact ``round_gate.py`` also
    feeds ``bench_diff.py`` — but a manual ``bench_diff OLD NEW``
    against some other OLD compares a different pair. Every entry
    therefore records ``baseline_src``, and ``bench_diff`` re-derives
    in-band-ness from the recorded ``solo_s`` against ITS OWN old
    side rather than trusting the verdict string. The one residual
    gap is unprobed-by-construction: a query in band vs the committed
    baseline but >gate vs a manual OLD artifact has no ``solo_s`` and
    so cannot be exonerated — conservative (it surfaces as a
    regression to re-run), by design."""
    if os.environ.get("SPARK_GRAFT_NO_ADJUDICATE") == "1":
        return {}
    base = _baseline_queries()
    flagged = [
        n
        for n, t in timings.items()
        if n in base
        and t > base[n] * ADJ_RATIO
        and t - base[n] > ADJ_MIN_ABS_S
    ]
    if not flagged:
        return {}
    out: dict[str, dict] = {}
    probes = flagged[:ADJ_MAX_PROBES]
    for n in flagged[ADJ_MAX_PROBES:]:
        out[n] = {
            "in_bench_s": timings[n],
            "baseline_s": base[n],
            "baseline_src": "bench_baseline.json",
            "adjudication": "unprobed_over_cap",
        }
    for name in probes:
        env = dict(os.environ, SPARK_GRAFT_NO_ADJUDICATE="1")
        try:
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--solo", name],
                capture_output=True,
                text=True,
                timeout=900,
                env=env,
            )
            line = next(
                ln for ln in reversed(res.stdout.splitlines())
                if ln.startswith("{")
            )
            solo = json.loads(line)["queries"][name]
        except Exception as e:  # noqa: BLE001
            out[name] = {
                "in_bench_s": timings[name],
                "baseline_s": base[name],
                "baseline_src": "bench_baseline.json",
                "adjudication": f"probe_error: {type(e).__name__}",
            }
            continue
        in_band = not (
            solo > base[name] * ADJ_RATIO
            and solo - base[name] > ADJ_MIN_ABS_S
        )
        out[name] = {
            "in_bench_s": timings[name],
            "solo_s": solo,
            "baseline_s": base[name],
            "baseline_src": "bench_baseline.json",
            "adjudication": "host_stall" if in_band else "regression",
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    only = _parse_args(sys.argv[1:])
    # Scratch on tmpfs BEFORE the session exists: streaming checkpoints
    # and replay sources go through tempfile; shuffle spill through
    # SPARK_LOCAL_DIRS. Kills the disk-latency component of the
    # checkpoint-heavy rungs' 2-3x run-to-run variance.
    scratch = tmpfs_scratch("bench_")
    if scratch:
        os.environ.setdefault("SPARK_LOCAL_DIRS", scratch)
    try:
        _run(sf_dir, sf, only)
    finally:
        # tmpfs holds RAM until deleted — clean up on EVERY exit path
        # (a crashed run otherwise leaks GiBs of /dev/shm checkpoints
        # until reboot, and failed runs accumulate). tmpfs_release
        # also restores tempfile.tempdir so later tempfile use in
        # this process doesn't point at the deleted dir.
        tmpfs_release(scratch)


def _run(sf_dir: str, sf: float, only: set[str] | None = None) -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JIT/codegen + parquet footer reads, excluded from timings.
    QUERIES["pricing_summary"].run(spark, sf_dir, force)
    # Spin up the Python UDF worker pool too (one worker per core,
    # ~2s total) so the first pandas_udf query isn't charged session
    # startup — worker processes are session infrastructure, reused
    # across all queries.
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    def _ident(s):
        return s

    # `from __future__ import annotations` stringifies hints; attach
    # real annotation objects instead (same trick as operators/dedup.py)
    _ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
    warm = F.pandas_udf(_ident, "double")
    force(
        spark.range(0, 1 << 15, 1, int(spark.conf.get("spark.sql.shuffle.partitions")))
        .select(warm(F.col("id").cast("double")).alias("v"))
    )

    # Streaming-engine warm-up: the first streaming query in a session
    # pays ~5-7s of one-time class loading + state-store machinery init
    # (measured: stream_daily_avg 11.1s cold, 4.5s warm at sf0.1).
    # That cost is session infrastructure, not a property of whichever
    # streaming query happens to run first — warm it with a 10-row
    # windowed aggregation through the same micro-batch path.
    import tempfile  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    tiny = spark.range(0, 10).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    wdir = tempfile.mkdtemp(prefix="bench_stream_warm_")
    tiny.write.mode("overwrite").parquet(f"{wdir}/src")
    st = spark.readStream.schema(tiny.schema).parquet(f"{wdir}/src")
    wq = (
        st.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .count()
        .writeStream.format("memory")
        .queryName(f"warm_{uuid.uuid4().hex[:6]}")
        .outputMode("complete")
        .option("checkpointLocation", f"{wdir}/ck")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(wq, 120)  # raises on stall (assert dies under -O)

    # Text-shape warm-up: the first tokenize→explode→join→agg pipeline
    # of a session pays a large one-time codegen/JIT cost that is
    # DATA-INDEPENDENT (measured: 200 in-memory rows pay 11.7s; the
    # first sf0.1 text query then runs 2.8s instead of 10-15s cold,
    # 1.7-1.8s steady-state). The driver-staleness rotation reorders
    # the registry every round, so without this warm-up that session
    # cost lands on whichever text query happens to rotate first and
    # shows up as a phantom round-over-round regression (r5:
    # unigram_logprob_quality 1.5s → 3.9s purely from moving to the
    # front of the registry).
    tinydocs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("warm up token stream alpha beta "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    ttoks = tinydocs.select(
        "doc_id",
        F.split(
            F.lower(F.regexp_replace("text", r"[^a-z0-9 ]", " ")), " +"
        ).alias("toks"),
    )
    twords = ttoks.select("doc_id", F.explode("toks").alias("w"))
    tfreq = twords.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    force(
        twords.join(tfreq, "w")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("s"))
    )

    # Dedup-shape warm-up: the LSH→verify→connected-components pipeline
    # has its own one-time codegen surface (minhash band expressions,
    # the hashed-jaccard verify joins, the components contraction step)
    # that the text warm-up above does not touch. Partial by design:
    # AQE picks different join strategies at 40 rows than at corpus
    # scale, so scale-dependent plan variants still compile on the
    # first real dedup-family query (measured on prep_stage_counts,
    # first in r8's rotation order: 29s truly cold in a bare session,
    # 16.4s with the other warm-ups, 15.7s with this one, 9s warm —
    # the residual is exact-plan codegen that only the first
    # full-scale run can pay).
    from yahoofinancedatalake_spark.prep import near_dup_stage  # noqa: PLC0415

    # 20 unique docs + 20 sharing one text: the duplicate block forms
    # verified jaccard-1.0 pairs, so the components loop and
    # the loser anti-join actually execute (a limit over the whole
    # union would drain the unique partitions first and leave those
    # paths cold — review-caught)
    tdup = tinydocs.limit(20).unionByName(
        spark.range(200, 220).select(
            F.col("id").alias("doc_id"),
            F.lit("warm up token stream alpha beta 7").alias("text"),
        )
    )
    with boundary_scope():
        force(near_dup_stage(tdup))

    # Fail-soft per query: one crash must never wipe the whole bench
    # artifact (a single TIMESTAMP_NTZ bug once cost an entire round's
    # numbers). Errors are recorded, every other query still gets
    # timed, and the process exits nonzero so the failure is visible.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, q in QUERIES.items():
        if only is not None and name not in only:
            continue
        # the query's stage boundaries are released inside the run,
        # on its clock, so no query pays for another's cleanup
        t0 = time.perf_counter()
        try:
            q.run(spark, sf_dir, force)
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
        # A cached relation left behind would fill executor storage
        # and charge later queries the GC bill (measured: doc_keywords
        # 6.9s standalone vs 15.5s mid-bench when it leaked its tf
        # table). Registered queries release what they cache
        # (tests/test_cache_lifetime.py); this clear keeps an ad-hoc
        # caller's cache out of the next query's timing too.
        spark.catalog.clearCache()

    if only is not None:
        # solo-probe mode: the minimal artifact the adjudicating
        # parent parses — per-query warm timings only
        out = {
            "metric": "solo_probe",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
        if errors:
            out["errors"] = errors
        print(json.dumps(out))
        if errors:
            sys.exit(1)
        return

    # Approximation-quality tracking: recall@5 of the LSH ANN vs the
    # exact brute-force top-k over the same queries. Both results are
    # tiny (k rows per query) — the collect is on the final top-k only.
    try:
        def neighbors(df) -> set:
            return {(r.query_id, r.neighbor_id) for r in df.collect()}

        truth = QUERIES["cosine_topk"].run(spark, sf_dir, neighbors)
        approx = QUERIES["ann_topk"].run(spark, sf_dir, neighbors)
        recall = (
            round(len(truth & approx) / len(truth), 4) if truth else None
        )
    except Exception as e:  # noqa: BLE001
        errors["__ann_recall"] = f"{type(e).__name__}: {e}"[:300]
        recall = None

    # TPC-H composite: the 22 classic plan shapes as ONE scalar, a
    # round-over-round regression watch for the relational core. The
    # membership is derived from the registry docstrings ("TPC-H Qn
    # shape") so renames/additions can't silently desync the suite.
    import re  # noqa: PLC0415

    tpch_names = [
        n for n, q in QUERIES.items() if re.search(r"TPC-H Q\d+", q.doc or "")
    ]

    # Tier split (VERDICT r9 #2): composed/accuracy/equivalence GATES
    # are verification harnesses, not operators — ~40% of wall-clock
    # with per-run noise windows (±20% on a 30s composed gate = ±6s)
    # that drown a 0.5s per-operator regression in the single total.
    # Membership derives from the registry (can't desync — see
    # _registry.gate_tier_names); query_pack_total stays the headline
    # scalar for round-over-round continuity.
    from yahoofinancedatalake_spark.queries._registry import (  # noqa: PLC0415
        gate_tier_names,
    )

    gate_names = gate_tier_names()

    out = {
        "metric": "query_pack_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "ann_recall_at_5": recall,
        "tpch_suite_s": round(
            sum(timings.get(n, 0.0) for n in tpch_names), 3
        ),
        "tpch_suite_n": sum(1 for n in tpch_names if n in timings),
        "operator_tier_s": round(
            sum(t for n, t in timings.items() if n not in gate_names), 3
        ),
        "gate_tier_s": round(
            sum(t for n, t in timings.items() if n in gate_names), 3
        ),
        "gate_tier_n": sum(1 for n in timings if n in gate_names),
        # IVF/PQ/IVFPQ index training is memoized per (dataset
        # fingerprint, params) within the session — the build-once
        # FAISS placement. The FIRST index query in the run pays the
        # training cost; later ones serve the memo, so their timings
        # are warm-index serving latency, not train+serve.
        # fresh-subprocess stall adjudication of >gate flags vs the
        # committed baseline (see module docstring) — placed near the
        # line's tail so the driver's truncated BENCH_r*.json keeps it
        "adjudications": _adjudicate(timings, sf_dir),
        "notes": {"ann_index_training": "memoized_first_query_pays"},
    }
    if errors:
        out["errors"] = errors
    # Belt-and-suspenders artifact (r13, VERDICT r12 #6): the driver's
    # stdout tail capture truncated r11's one-line JSON, which cost
    # that round its round-over-round table. The same payload lands in
    # a file so comparisons never depend on capture length. Additive
    # only — the stdout contract line below is unchanged.
    try:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_last.json"
        )
        with open(path, "w") as f:
            json.dump(out, f)
    except OSError:
        pass
    print(json.dumps(out))
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
