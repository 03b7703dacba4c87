"""Seeded end-to-end benchmark of the engine's user workloads.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 4 --trace 0

Run from the root of a source checkout. Each run starts one Spark
session, generates its inputs from ``--seed`` into a fresh run
directory under the checkout, sets up and warms up, measures for about
``--seconds`` seconds, runs every output check outside the clock, and
deletes the run directory on every exit path. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is the human report
with the workload's own metric names, sizes, seed and host. The exit
code is non-zero when any check fails or the engine is missing.

``--trace 1`` starts the session with the Spark event log on, runs one
untimed warm-up round of ops after setup, measures untraced, then
measures again with spans on and the job group set around every call,
and charges jobs and stages to spans. The per-layer metrics come from
that traced pass; ``overhead.*`` is traced minus untraced, both on the
same warm session, so it is the cost of spans and job groups (the event
log is on in both passes).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
sys.path[:0] = [str(HERE), str(CHECKOUT)]
sys.dont_write_bytecode = True

import spans as tr  # noqa: E402

WORKLOADS = ("nightly", "dashboard")
#: the seed later claims are confirmed on, never used while tuning
CONFIRM_SEED = 9001
END_TO_END = ("setup_s", "op_p50_ms", "ops_per_s")


def bench_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1048576.0
    return 0.0


def host(bench: "Bench") -> dict:
    jvm = bench.spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(mem_total_gb(), 1),
        "python": platform.python_version(),
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
    }


class Bench:
    """What a workload sees: the session, tracer, clock and checks."""

    def __init__(self, args, run_dir: Path) -> None:
        self.seed = args.seed
        self.run_dir = str(run_dir)
        self.cpus = bench_cpus()
        self.tracer = tr.Tracer()
        self.spark = None
        self.notes: dict[str, float] = {}
        #: ops run (each is attempted once); a failed check fails its op
        self.ops = 0
        self._ops_lock = threading.Lock()
        self.failures: list[str] = []
        #: time spent in checks, which no reported time includes
        self.check_s = 0.0
        self.clock = time.perf_counter

    def note(self, name: str, value: float) -> None:
        self.notes[name] = value

    def op_done(self) -> None:
        with self._ops_lock:
            self.ops += 1

    def check(self, fn) -> None:
        """Run one op's output check between timed ops. ``fn`` returns
        a list of failures; one that raises counts as failed too."""
        with self.tracer.span("check", "check") as sp:
            try:
                bad = fn()
            except Exception:  # noqa: BLE001 - any crash is a failed check
                bad = [traceback.format_exc(limit=3)]
        self.check_s += sp.dur
        if bad:
            self.failures.append("; ".join(bad))

    def start_session(self, event_log: str | None = None) -> float:
        from yahoofinancedatalake_spark.session import get_spark  # noqa: PLC0415

        tmp = Path(self.run_dir) / "tmp"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(Path(self.run_dir) / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            Path(event_log).mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def make_workload(name: str, bench: Bench):
    if name == "nightly":
        from nightly import Nightly  # noqa: PLC0415

        return Nightly(bench)
    from dashboard import Dashboard  # noqa: PLC0415

    return Dashboard(bench)


def end_to_end(m: dict, setup_s: float) -> dict:
    lat = m["latencies"]
    # a closed loop of c clients completes c / (mean latency) ops per second
    if "loaded_latencies" in m:
        ops_per_s = bench_cpus() / statistics.mean(m["loaded_latencies"])
    else:
        ops_per_s = 1.0 / statistics.mean(lat)
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat) * 1000.0,
        "ops_per_s": ops_per_s,
    }


def named_report(wl, m: dict, e2e: dict) -> dict:
    """The workload's end-to-end metrics under their own names."""
    lat_ms = [x * 1000.0 for x in m["latencies"]]
    out = {"setup_s": e2e["setup_s"], "op_ms": lat_ms}
    if wl.name == "nightly":
        out.update(nights_timed=len(lat_ms),
                   lake_bootstrap_s=wl.b.notes["lake_bootstrap_s"],
                   lake_day_s=statistics.median(m["day_s"]),
                   prep_full_s=wl.b.notes["prep_full_s"],
                   prep_batch_s=statistics.median(m["batch_s"]))
    else:
        from dashboard import percentile_10_beyond  # noqa: PLC0415

        n = len(lat_ms)
        out.update(
            dash_p50_ms=e2e["op_p50_ms"],
            dash_tail_ms=percentile_10_beyond(lat_ms),
            dash_tail_pct=round(100.0 * (1 - 10 / n), 1) if n > 10 else 0.0,
            dash_requests=n,
            dash_qps=e2e["ops_per_s"],
            dash_loaded_ms=[x * 1000.0 for x in m["loaded_latencies"]],
        )
    return out


def layer_metrics(wl, bench: Bench, spans, m: dict, log_dir: str,
                  gc_s: float, wall_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass, and the report's detail."""
    jobs, rows = tr.parse_event_log(log_dir)
    work = [s for s in spans if s.layer != "check"]
    eng = tr.attribute(work, jobs, rows)
    self_t = tr.self_times(work)
    by_layer: dict[str, float] = {}
    for s in work:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + self_t[s.sid]
    # self-time reconciliation: the time inside the engine's layer calls
    # against the traced pass's wall clock outside the off-clock checks;
    # the gap is the benchmark's own bookkeeping (``op`` self time and
    # the time between ops). Concurrent clients overlap, so it is the
    # union of the layer spans, which for one client is the sum of
    # their self times.
    checks = sum(s.dur for s in spans if s.layer == "check")
    in_layers = tr.union_length(
        [(s.start, s.end) for s in work if s.layer != "op"]
    )
    plan, execute = [], []
    for s in work:
        first = eng["first_job"].get(s.sid)
        if first is not None and s.layer != "op":
            plan.append((first - s.start) * 1000.0)
            execute.append((s.end - first) * 1000.0)
    out = {
        "session.start_s": bench.notes["session_start_s"],
        "session.warmup_s": bench.notes["warmup_s"],
        "process.peak_rss_mb": bench.notes["peak_rss_mb"],
        "op.plan_ms": statistics.median(plan),
        "op.exec_ms": statistics.median(execute),
        "trace.layer_coverage": in_layers / (wall_s - checks),
        "spark.gc_s": gc_s,
    }
    for k in ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
              "exec_run_s", "driver_s", "shuffle_r_mb", "shuffle_w_mb",
              "spill_mb", "scan_mb", "py_bytes_mb"):
        out[f"spark.{k}"] = eng[k]
    for k in LAYER_KEYS:
        vals = wl.layer.get(k)
        out[k] = statistics.median(vals) if vals else 0.0
    detail = {"spark.py_run_s": eng["py_run_s"], "spark.py_init_s": eng["py_init_s"],
              "spark.task_gc_s": eng["task_gc_s"], "trace.wall_s": wall_s - checks,
              "trace.unattributed_s": wall_s - checks - in_layers}
    for layer, t in by_layer.items():
        detail[f"trace.self_s.{layer}"] = t
    if wl.name == "dashboard":
        for role in ("drill", "panel", "drill_loaded", "panel_loaded"):
            mine = [s for s in work if s.name == f"queries.{role}"]
            p = [(eng["first_job"][s.sid] - s.start) * 1000.0
                 for s in mine if s.sid in eng["first_job"]]
            e = [(s.end - eng["first_job"][s.sid]) * 1000.0
                 for s in mine if s.sid in eng["first_job"]]
            if p:
                detail[f"queries.plan_ms.{role}"] = statistics.median(p)
                detail[f"queries.exec_ms.{role}"] = statistics.median(e)
        n_req = len(m["latencies"]) + len(m["loaded_latencies"])
        for k in ("jobs", "tasks", "scan_mb"):
            detail[f"spark.{k}_per_request"] = eng[k] / n_req
    return out, detail


def layer_medians(wl) -> dict:
    return {k: statistics.median(v) for k, v in wl.layer.items()}


#: layer metrics that are counts or sizes, reported by every workload
#: (zero where the workload bypasses the layer)
LAYER_KEYS = (
    "sources.bytes_written_mb", "sources.files_written",
    "sources.partitions_swapped", "sources.write_amp", "etl.gold_rows",
    "prep.state_mb", "prep.state_files", "prep.state_growth_mb",
    "prep.state_bytes_per_input_byte",
)


def stop_processes(bench: Bench) -> None:
    """Stop Spark and wait for the JVM and every Python worker."""
    from pyspark import SparkContext  # noqa: PLC0415

    bench.stop_session()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while tr.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in tr.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args, bench: Bench) -> tuple[dict, dict]:
    run_dir = Path(bench.run_dir)
    wl = make_workload(args.workload, bench)
    log_dir = str(run_dir / "eventlog") if args.trace else None
    with tr.RssSampler() as rss:
        t0 = time.perf_counter()
        start_s = bench.start_session(event_log=log_dir)
        bench.note("session_start_s", start_s)
        t1 = time.perf_counter()
        wl.setup()
        bench.note("warmup_s", time.perf_counter() - t1 - bench.check_s)
        setup_s = time.perf_counter() - t0 - bench.check_s
        if args.trace:
            # the first round still compiles the paths setup did not
            # reach; both passes below start after it
            wl.measure(0)
        bench.spark.catalog.clearCache()
        m = wl.measure(args.seconds)
        bench.spark.catalog.clearCache()
    e2e = end_to_end(m, setup_s)
    bench.note("peak_rss_mb", rss.peak_bytes / 1048576.0)
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "confirm_seed": CONFIRM_SEED,
        "sizes": wl.sizes(),
        "host": {**host(bench), "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
                 "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                 "spark": bench.spark.version},
        "metrics": {**named_report(wl, m, e2e),
                    "peak_rss_mb": bench.notes["peak_rss_mb"]},
        "layers": layer_medians(wl),
    }
    if not args.trace:
        return e2e, report
    bench.tracer.enabled = True
    wl.layer.clear()
    gc0, t0 = bench.jvm_gc_s(), time.perf_counter()
    mt = wl.measure(args.seconds)
    wall_s = time.perf_counter() - t0
    gc_s = bench.jvm_gc_s() - gc0
    bench.spark.catalog.clearCache()
    traced = end_to_end(mt, setup_s)
    bench.stop_session()  # flushes the event log
    layers, detail = layer_metrics(
        wl, bench, bench.tracer.spans, mt, log_dir, gc_s, wall_s
    )
    for k in END_TO_END:
        if k != "setup_s":
            layers[f"overhead.{k}"] = traced[k] - e2e[k]
    report["layers"] = {**layer_medians(wl), **detail}
    return layers, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (CHECKOUT / "yahoofinancedatalake_spark" / "session.py").is_file():
        print(f"engine sources not found under {CHECKOUT}", file=sys.stderr)
        return 2

    run_dir = CHECKOUT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    env = {
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [str(CHECKOUT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(bench_cpus()),
        # a quarter of RAM, at most 4 GB, whatever the caller exports:
        # the session's own 40g default is sized for a large host
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_total_gb() // 4)))}g",
    }
    os.environ.update(env)
    # a terminated run still stops Spark and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, run_dir)
    try:
        metrics, report = run(args, bench)
    finally:
        stop_processes(bench)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (CHECKOUT / ".perfbench_run").rmdir()
        except OSError:
            pass
    failed = len(bench.failures)
    report["fail_ratio"] = failed / bench.ops
    report["failures"] = bench.failures
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.ops,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": UNITS[k.split(".", 1)[1] if k.startswith("overhead.") else k]}
            for k, v in metrics.items()
        },
    }))
    return 0 if failed == 0 else 1


UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "process.peak_rss_mb": "MB",
    "session.start_s": "s", "session.warmup_s": "s", "op.plan_ms": "ms",
    "op.exec_ms": "ms", "trace.layer_coverage": "ratio", "spark.gc_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.exec_run_s": "s",
    "spark.driver_s": "s", "spark.shuffle_r_mb": "MB", "spark.shuffle_w_mb": "MB",
    "spark.spill_mb": "MB", "spark.scan_mb": "MB", "spark.py_bytes_mb": "MB",
    "sources.bytes_written_mb": "MB", "sources.files_written": "count",
    "sources.partitions_swapped": "count", "sources.write_amp": "ratio",
    "etl.gold_rows": "count", "prep.state_mb": "MB", "prep.state_files": "count",
    "prep.state_growth_mb": "MB", "prep.state_bytes_per_input_byte": "ratio",
}


if __name__ == "__main__":
    sys.exit(main())
