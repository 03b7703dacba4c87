"""Physical-plan audit: one row of scale-relevant stats per query.

Dumps PLANS.md — for every registered query, counts of the plan
features that decide 100 TB behavior: exchanges (shuffles), broadcast
vs sort-merge joins, whole-stage-codegen coverage, pushed filters,
Expand, and the scale-killer operators (CartesianProduct /
BroadcastNestedLoopJoin). The table makes plan regressions reviewable
in a diff the same way CORRECTNESS_r*.json makes answer regressions
reviewable; tests/test_plans.py pins the hard rules, this shows the
whole surface.

``--diff`` (r7) turns the snapshot into a REGRESSION GATE: it parses
the committed PLANS.md as the baseline, re-audits every query, and
exits nonzero when a plan got structurally worse — more shuffles, a
new scale-killer, a lost parquet pushdown, a new Expand, a broadcast
join degrading to sort-merge, or a baseline query vanishing. New
queries and strict improvements pass (improvements are reported so
the baseline can be refreshed).

Usage:
    python tools/plan_audit.py [sf_dir] [out_md]     # write snapshot
    python tools/plan_audit.py --diff [baseline_md]  # regression gate
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yahoofinancedatalake_spark.queries.pack import QUERIES  # noqa: E402
from yahoofinancedatalake_spark.session import get_spark  # noqa: E402

#: queries that execute work at plan-build time (streaming memory-sink
#: materialization, on-disk upsert round-trips) — the physical plan of
#: the returned frame is a memory/local scan, not the interesting part
MATERIALIZING = {
    "stream_daily_avg_batch_eq",
    "stream_sessions_batch_eq",
    "stream_dedup_batch_eq",
    "stream_attribution_batch_eq",
    "stream_custom_state_batch_eq",
    "stream_enrich_batch_eq",
    "upsert_rows_eq",
    # r8: runs the staged pipeline eagerly (per-stage counts) and
    # returns a driver-local frame; the stage plans are the already-
    # audited component operators (dedup_clusters etc.)
    "prep_stage_counts",
    # r9: same shape for the seed-then-increment composition (lands
    # and removes state under a tempdir, returns audit counts)
    "incremental_prep_counts",
    # r9: sandwich gate — runs both winnow matchers eagerly (anti-join
    # counts) and returns a driver-local (metric, passed) frame; the
    # matcher plan is audited via winnow_near_dup
    "winnow_fast_accuracy",
    # r9: streaming rung 12 — drives two availableNow stream runs +
    # state landings eagerly, returns driver-local audit counts
    "stream_incremental_prep_batch_eq",
    # r10: same shape as prep_stage_counts for the winnow backend
    # (eager per-stage counts, driver-local frame); the matcher plan
    # is audited via winnow_near_dup
    "prep_stage_counts_winnow",
}


def audit_one(spark, name: str) -> dict | None:
    if name in MATERIALIZING:
        return None
    # order-insensitivity: a relation left in the shared cache manager
    # would give a LATER query building the same logical plan an
    # InMemoryTableScan and fewer counted exchanges (the audit once
    # flipped minhash/simhash_accuracy's counts 47<->32 on rotation
    # order alone). Registered queries no longer leave one
    # (tests/test_cache_lifetime.py); the reset keeps the audit
    # independent of anything else cached in this session.
    spark.catalog.clearCache()
    df = QUERIES[name].spark(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "query": name,
        "exchanges": plan.count("Exchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "codegen": plan.count("WholeStageCodegen"),
        "pushed": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "expand": plan.count("Expand"),
        "killers": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
    }


_ROW_RE = re.compile(
    r"^\| (?P<query>\S+) \| (?P<exchanges>\d+) \| (?P<bhj>\d+) "
    r"\| (?P<smj>\d+) \| (?P<codegen>\d+) \| (?P<pushed>y?) "
    r"\| (?P<expand>\d+) \| (?P<killers>\d+) \| (?P<take_ordered>\d+) \|$"
)


def parse_baseline(md_path: str) -> dict[str, dict]:
    """Read a PLANS.md table back into audit rows."""
    out: dict[str, dict] = {}
    with open(md_path) as f:
        for line in f:
            m = _ROW_RE.match(line.rstrip())
            if not m:
                continue
            d: dict = {"query": m.group("query")}
            for k in (
                "exchanges", "bhj", "smj", "codegen",
                "expand", "killers", "take_ordered",
            ):
                d[k] = int(m.group(k))
            d["pushed"] = m.group("pushed") == "y"
            out[d["query"]] = d
    return out


def diff_rows(
    baseline: dict[str, dict], current: dict[str, dict]
) -> tuple[list[str], list[str]]:
    """Compare audits; returns (regressions, notes).

    Regressions (gate FAILS): more shuffles, a new scale-killer, a new
    Expand, a lost parquet pushdown, broadcast degraded to sort-merge
    (SMJ up while BHJ down), or a baseline query missing from the
    current registry. Notes (gate passes): new queries, strict
    improvements — signals to refresh the committed baseline.
    """
    regressions: list[str] = []
    notes: list[str] = []
    for name, b in baseline.items():
        c = current.get(name)
        if c is None:
            regressions.append(f"{name}: in baseline but not audited now")
            continue
        for k, label in (
            ("exchanges", "shuffles"),
            ("killers", "scale-killers"),
            ("expand", "Expand ops"),
        ):
            if c[k] > b[k]:
                regressions.append(
                    f"{name}: {label} {b[k]} -> {c[k]}"
                )
            elif c[k] < b[k]:
                notes.append(f"{name}: {label} improved {b[k]} -> {c[k]}")
        if b["pushed"] and not c["pushed"]:
            regressions.append(f"{name}: parquet pushdown LOST")
        elif c["pushed"] and not b["pushed"]:
            notes.append(f"{name}: parquet pushdown gained")
        if c["smj"] > b["smj"] and c["bhj"] < b["bhj"]:
            regressions.append(
                f"{name}: broadcast join degraded to sort-merge "
                f"(BHJ {b['bhj']} -> {c['bhj']}, SMJ {b['smj']} -> {c['smj']})"
            )
    for name in current:
        if name not in baseline:
            notes.append(f"{name}: new query, no baseline row")
    return regressions, notes


def run_diff(baseline_md: str) -> int:
    baseline = parse_baseline(baseline_md)
    if not baseline:
        print(f"no baseline rows parsed from {baseline_md}")
        return 2
    spark = get_spark("plan_audit_diff")
    spark.sparkContext.setLogLevel("ERROR")
    current: dict[str, dict] = {}
    crashed: list[str] = []
    for name in QUERIES:
        try:
            r = audit_one(spark, name)
        except Exception as e:  # noqa: BLE001
            # a query that cannot even build its plan IS a regression
            # to report, not a reason to abort the whole gate
            crashed.append(f"{name}: audit crashed: {e}")
            continue
        if r:
            current[r["query"]] = r
    regressions, notes = diff_rows(baseline, current)
    regressions = crashed + regressions
    for n in notes:
        print(f"note  {n}")
    for r in regressions:
        print(f"REGRESSION  {r}")
    print(
        f"{len(current)} audited vs {len(baseline)} baseline rows: "
        f"{len(regressions)} regressions, {len(notes)} notes"
    )
    return 1 if regressions else 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--diff":
        return run_diff(sys.argv[2] if len(sys.argv) > 2 else "PLANS.md")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in QUERIES:
        try:
            r = audit_one(spark, name)
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            return 1
        if r:
            rows.append(r)
            print(f"{name}: x={r['exchanges']} bhj={r['bhj']} "
                  f"smj={r['smj']} killers={r['killers']}")
    with open(out, "w") as f:
        f.write(
            "# Physical-plan audit\n\n"
            f"Per-query scale-relevant plan stats at `{sf_dir}` "
            "(driver-shaped session). Regenerate: "
            "`python tools/plan_audit.py`.\n\n"
            "Columns: shuffles (Exchange), broadcast joins, sort-merge "
            "joins, whole-stage-codegen spans, parquet pushdown, "
            "Expand ops, scale-killers (CartesianProduct+BNLJ — "
            "nonzero only for the documented brute-force kernels), "
            "TakeOrderedAndProject top-k.\n\n"
            "| query | shuffles | BHJ | SMJ | codegen | pushdown "
            "| expand | killers | topk |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        # name-sorted, not registration-ordered: QUERIES iteration
        # follows the driver rotation, which reshuffles every round —
        # a sorted table keeps the committed baseline's git diff to
        # actual plan changes
        for r in sorted(rows, key=lambda r: r["query"]):
            f.write(
                f"| {r['query']} | {r['exchanges']} | {r['bhj']} "
                f"| {r['smj']} | {r['codegen']} "
                f"| {'y' if r['pushed'] else ''} | {r['expand']} "
                f"| {r['killers']} | {r['take_ordered']} |\n"
            )
        n_killer = sum(1 for r in rows if r["killers"])
        f.write(
            f"\n{len(rows)} queries audited "
            f"({len(MATERIALIZING)} materializing entries skipped — "
            "streaming memory-sink/upsert round-trips whose returned "
            "frame is a memory scan); "
            f"{n_killer} with scale-killer operators (all documented "
            "brute-force baselines / recall-gate ground truth).\n"
        )
    print(f"wrote {out} ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
