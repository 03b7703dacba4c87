"""Gate-infrastructure tests (no Spark session needed).

bench_diff and round_gate are now the round's regression gates —
a parsing or exit-code bug there silently green-lights a regression,
so their contracts get the same pytest pinning as the operators.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from tools.bench_diff import MIN_ABS_S, diff, load

REPO = Path(__file__).resolve().parents[1]


def _bench_line(queries: dict, **extra) -> str:
    d = {"metric": "bench_s", "value": sum(queries.values()),
         "unit": "sec", "queries": queries, "sf": 0.1}
    d.update(extra)
    return json.dumps(d)


def test_load_full_bench_line(tmp_path):
    p = tmp_path / "full.json"
    p.write_text("some log noise\n" + _bench_line({"q1": 1.0}) + "\n")
    got = load(str(p))
    assert got["queries"] == {"q1": 1.0}
    assert "_partial" not in got


def test_load_driver_truncated_artifact(tmp_path):
    # the driver stores only the tail of the line, parsed=null; the
    # cut lands mid-name ('pq_topk": …' left over from ivfpq_topk) —
    # the chopped fragment has no opening quote so it must NOT be
    # captured as a query (it would alias the real pq_topk), and the
    # bench line's own scalar fields must be filtered out. Names must
    # be REAL registry names: the tail parse allowlists against the
    # QUERIES registry (a denylist of scalar fields would rot as
    # bench grows new scalars).
    tail = (
        'pq_topk": 0.52, "dedup_exact": 2.5, "top_flop": 0.75}, '
        '"sf": 0.1, "tpch_suite_s": 19.1, "tpch_suite_n": 22, '
        '"ann_recall_at_5": 1.0, "notes": {"gc_drains": 21}}'
    )
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps(
        {"n": 9, "rc": 0, "cpus": 32, "sf": 0.1,
         "tail": tail, "parsed": None}
    ))
    got = load(str(p))
    assert got["_partial"] is True
    assert got["queries"] == {"dedup_exact": 2.5, "top_flop": 0.75}


def test_load_truncated_artifact_drops_future_scalars(tmp_path):
    # a numeric scalar bench.py grows in a future round must not be
    # diffed as a query — the allowlist (registry names) handles any
    # name the denylist never heard of
    tail = (
        '{"dedup_exact": 1.5, "some_future_scalar_metric": 42.0}, '
        '"sf": 0.1}'
    )
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps({"n": 1, "tail": tail, "parsed": None}))
    assert load(str(p))["queries"] == {"dedup_exact": 1.5}


def test_registry_names_fallback(monkeypatch, tmp_path):
    # standalone copies of the tool (no importable registry) keep the
    # r8 denylist behavior instead of dropping everything
    import tools.bench_diff as bd

    monkeypatch.setattr(bd, "_registry_names", lambda: None)
    tail = '{"anything_at_all": 1.5, "gc_drains": 3.0}, "sf": 0.1}'
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps({"n": 1, "tail": tail, "parsed": None}))
    assert bd.load(str(p))["queries"] == {"anything_at_all": 1.5}


def test_tmpfs_scratch_nested_and_out_of_order_release():
    import os
    import tempfile

    from yahoofinancedatalake_spark.session import (
        tmpfs_release,
        tmpfs_scratch,
    )

    if not os.path.isdir("/dev/shm"):
        pytest.skip("no tmpfs on this host")
    saved = tempfile.tempdir
    try:
        # nested (LIFO) releases restore each scratch's own prior —
        # a single saved slot restored the first (deleted) scratch
        # when releasing the second
        a = tmpfs_scratch("t_nest_a_")
        b = tmpfs_scratch("t_nest_b_")
        assert tempfile.tempdir == b
        tmpfs_release(b)
        assert tempfile.tempdir == a and os.path.isdir(a)
        tmpfs_release(a)
        assert tempfile.tempdir == saved

        # out-of-order release must never leave tempdir pointing at
        # a deleted path
        a = tmpfs_scratch("t_ooo_a_")
        b = tmpfs_scratch("t_ooo_b_")
        tmpfs_release(a)
        assert tempfile.tempdir == b  # still the active scratch
        tmpfs_release(b)
        assert tempfile.tempdir is None or os.path.isdir(
            tempfile.tempdir
        )
    finally:
        tempfile.tempdir = saved


def test_diff_full_vs_partial_suppresses_removed_notes():
    old = {"queries": {"a": 1.0, "outside_tail": 3.0}}
    new = {"queries": {"a": 1.1}, "_partial": True}
    _regressions, notes = diff(old, new, ratio=2.0)
    assert not any("REMOVED" in n for n in notes)


def test_load_rejects_garbage(tmp_path):
    p = tmp_path / "junk.json"
    p.write_text("not a bench artifact at all")
    with pytest.raises(SystemExit, match="no bench JSON line"):
        load(str(p))


def test_diff_flags_only_real_regressions():
    old = {"queries": {"a": 2.0, "b": 0.2, "c": 3.0}}
    new = {"queries": {"a": 5.0, "b": 0.5, "c": 2.9}}
    regressions, _notes = diff(old, new, ratio=2.0)
    # a: 2.0 -> 5.0 is a real regression; b trips the ratio but is
    # under the MIN_ABS_S jitter floor; c is flat
    assert MIN_ABS_S >= 0.3  # premise of the b case
    assert len(regressions) == 1
    assert regressions[0].startswith("a [operator]:")


def test_diff_partial_baseline_suppresses_presence_notes():
    old = {"queries": {"a": 1.0}, "_partial": True}
    new = {"queries": {"a": 1.1, "brand_new": 9.9}}
    _regressions, notes = diff(old, new, ratio=2.0)
    # the last three notes are the shared-subset + two tier totals
    assert not any("new" in n or "REMOVED" in n for n in notes[:-3])
    assert "shared subset (1 queries)" in notes[-3]
    assert "operator tier (1 queries)" in notes[-2]
    assert "gate tier (0 queries)" in notes[-1]


def test_round_gate_rejects_bad_skip_args():
    rc = subprocess.call(
        [sys.executable, "tools/round_gate.py", "--skip"], cwd=REPO,
        stdout=subprocess.DEVNULL,
    )
    assert rc == 2
    rc = subprocess.call(
        [sys.executable, "tools/round_gate.py", "--skip", "benches"],
        cwd=REPO, stdout=subprocess.DEVNULL,
    )
    assert rc == 2


def test_round_gate_all_skipped_is_green_noop():
    out = subprocess.run(
        [sys.executable, "tools/round_gate.py",
         "--skip", "selfcheck", "--skip", "sweep",
         "--skip", "plans", "--skip", "bench"],
        cwd=REPO, capture_output=True, text=True,
    )
    assert out.returncode == 0
    assert "no steps ran" in out.stdout


def test_gate_tier_names_membership_and_guard():
    """The tier split's registry derivation: gates are the suffix
    convention + the two composed count gates; extras are validated
    so a renamed query fails loud instead of silently draining the
    gate tier."""
    from yahoofinancedatalake_spark.queries import _registry
    from yahoofinancedatalake_spark.queries.pack import QUERIES

    gates = _registry.gate_tier_names()
    assert gates <= set(QUERIES)
    # the two composed gates that predate the suffix convention
    assert {"prep_stage_counts", "incremental_prep_counts"} <= gates
    # every stream batch-equivalence twin is a gate
    assert all(n in gates for n in QUERIES if n.endswith("_batch_eq"))
    # spot-check operator-tier membership: production query shapes
    for n in ("top_flop", "pricing_summary", "winnow_near_dup",
              "dedup_exact", "ann_topk"):
        assert n in QUERIES and n not in gates
    # guard: a stale extra must raise, not silently shrink the set
    import pytest as _pytest
    orig = _registry._GATE_EXTRA
    try:
        _registry._GATE_EXTRA = frozenset({"renamed_away_query"})
        with _pytest.raises(AssertionError, match="renamed_away_query"):
            _registry.gate_tier_names()
    finally:
        _registry._GATE_EXTRA = orig


def test_diff_tier_totals_note_split():
    old = {"queries": {"top_op": 1.0, "stream_x_batch_eq": 10.0}}
    new = {"queries": {"top_op": 1.2, "stream_x_batch_eq": 12.0}}
    _regressions, notes = diff(old, new, ratio=2.0)
    assert "operator tier (1 queries): 1.0s -> 1.2s" in notes[-2]
    assert "gate tier (1 queries): 10.0s -> 12.0s" in notes[-1]


def test_diff_honors_host_stall_adjudication():
    """A >2x flag whose bench.py in-run solo probe came back in band
    is downgraded to a note (VERDICT r10 #2); a probe that REPRODUCED
    the regression still fails the gate."""
    old = {"queries": {"a": 2.0, "b": 2.0}}
    new = {
        "queries": {"a": 9.0, "b": 9.0},
        "adjudications": {
            "a": {
                "in_bench_s": 9.0,
                "solo_s": 1.9,
                "baseline_s": 2.0,
                "adjudication": "host_stall",
            },
            "b": {
                "in_bench_s": 9.0,
                "solo_s": 8.7,
                "baseline_s": 2.0,
                "adjudication": "regression",
            },
        },
    }
    regressions, notes = diff(old, new, ratio=2.0)
    assert len(regressions) == 1
    assert regressions[0].startswith("b [operator]:")
    assert any("ADJUDICATED host_stall" in n and n.startswith("a ")
               for n in notes)


def test_diff_rederives_adjudication_vs_own_old_side():
    """ADVICE r11: the verdict STRING is baseline-relative; the diff
    re-derives in-band-ness from solo_s against ITS old side. A
    'host_stall' whose solo still trips the gate vs this OLD stays a
    regression; an entry with no solo_s (unprobed) is never
    downgraded."""
    old = {"queries": {"a": 2.0, "b": 2.0}}
    new = {
        "queries": {"a": 9.0, "b": 9.0},
        "adjudications": {
            # labeled host_stall vs a lenient committed baseline
            # (baseline_s 5.0), but solo 8.0 is >2x of OUR old 2.0
            "a": {
                "in_bench_s": 9.0,
                "solo_s": 8.0,
                "baseline_s": 5.0,
                "baseline_src": "bench_baseline.json",
                "adjudication": "host_stall",
            },
            # probed fine vs baseline too — and genuinely in band
            # vs our old side: downgraded regardless of the label
            "b": {
                "in_bench_s": 9.0,
                "solo_s": 2.1,
                "baseline_s": 5.0,
                "baseline_src": "bench_baseline.json",
                "adjudication": "regression",
            },
        },
    }
    regressions, notes = diff(old, new, ratio=2.0)
    assert len(regressions) == 1
    assert regressions[0].startswith("a [operator]:")
    assert any("ADJUDICATED host_stall" in n and n.startswith("b ")
               for n in notes)
    # unprobed entry (no solo_s): stays a regression
    new2 = {
        "queries": {"a": 9.0},
        "adjudications": {
            "a": {"in_bench_s": 9.0, "baseline_s": 5.0,
                  "baseline_src": "bench_baseline.json",
                  "adjudication": "unprobed_over_cap"},
        },
    }
    regressions2, _ = diff({"queries": {"a": 2.0}}, new2, ratio=2.0)
    assert len(regressions2) == 1


def test_bench_solo_arg_parsing():
    """--solo parses the subset and rejects unregistered names."""
    import bench

    assert bench._parse_args([]) is None
    got = bench._parse_args(["--solo", "top_flop,dedup_exact"])
    assert got == {"top_flop", "dedup_exact"}
    with pytest.raises(SystemExit):
        bench._parse_args(["--solo", "no_such_query"])
    with pytest.raises(SystemExit):
        bench._parse_args(["--solo"])


def test_bench_adjudicate_no_flags_and_disabled(monkeypatch):
    """No flags vs baseline -> empty table; kill switch respected;
    over-cap flags are recorded unprobed (no subprocess storms)."""
    import bench

    base = {n: 1.0 for n in list(bench.QUERIES)[:8]}
    monkeypatch.setattr(bench, "_baseline_queries", lambda: base)
    names = list(base)
    # all in band -> nothing to do
    assert bench._adjudicate({names[0]: 1.5}, "x") == {}
    # kill switch
    monkeypatch.setenv("SPARK_GRAFT_NO_ADJUDICATE", "1")
    assert bench._adjudicate({names[0]: 50.0}, "x") == {}
    monkeypatch.delenv("SPARK_GRAFT_NO_ADJUDICATE")
    # over-cap flags beyond ADJ_MAX_PROBES are recorded, not probed;
    # stub the prober so the capped ones don't spawn JVMs
    monkeypatch.setattr(
        bench.subprocess, "run",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("no probe")),
    )
    flagged = {n: 50.0 for n in names}
    got = bench._adjudicate(flagged, "x")
    assert len(got) == len(names)
    unprobed = [v for v in got.values()
                if v["adjudication"] == "unprobed_over_cap"]
    errored = [v for v in got.values()
               if v["adjudication"].startswith("probe_error")]
    assert len(unprobed) == len(names) - bench.ADJ_MAX_PROBES
    assert len(errored) == bench.ADJ_MAX_PROBES


def test_query_index_regenerates_committed_file():
    """QUERIES.md is exactly what ``tools/query_index.py`` writes, so
    a doc change regenerates the rows it touches and nothing else."""
    from tools.query_index import render

    assert render() == (REPO / "QUERIES.md").read_text()


def test_codelines_counts_code_not_docstrings_or_comments():
    """tools/codelines.py's rule: a line counts when it holds a
    non-comment token outside every module, class and function
    docstring; every line of a multi-line call counts."""
    from tools.codelines import code_lines

    snippet = '''"""Module docstring,
on two lines."""

import os  # trailing comment


def f(a):
    """Function docstring."""
    # a comment-only line
    return os.path.join(
        a,
        "b",
    )


class C:
    """Class docstring."""

    x = """not a docstring,
    two lines"""
'''
    # import, def, return + 3 call lines, class, 2 string lines
    assert code_lines(snippet) == 9
