"""Spans, process-tree memory sampling, and event-log attribution.

Spans are recorded by the benchmark around its calls into the engine,
never inside the engine. A traced span also sets the Spark job group
to its id, so every job, stage and task in the event log can be
charged to the span that launched it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    trace_id: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With ``enabled`` false it only times
    the block, so the untraced run pays one clock read per call."""

    def __init__(self) -> None:
        self.enabled = False
        self.sc = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._n = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._n += 1
            sid = f"span-{self._n}"
        sp = Span(
            sid, name, layer,
            trace_id or (parent.trace_id if parent else sid),
            parent.sid if parent else None, 0.0,
        )
        if self.enabled:
            self.sc.setJobGroup(sid, name)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.sid, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                with self._lock:
                    self.spans.append(sp)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - union_length(kids.get(s.sid, [])) for s in spans}


# -- memory ----------------------------------------------------------------


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()) + [os.getpid()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# -- event log ---------------------------------------------------------------

#: stage accumulables summed per span, beyond what stage_rows reads
_ACCUMS = {
    "spill": (
        "internal.metrics.memoryBytesSpilled",
        "internal.metrics.diskBytesSpilled",
    ),
    "scan": ("internal.metrics.input.bytesRead",),
    "py_bytes": ("data sent to Python workers", "data returned from Python workers"),
    "py_run_ms": ("time to run Python workers",),
    "py_init_ms": ("time to initialize Python workers", "time to start Python workers"),
}


@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], list[dict]]:
    """Jobs (with their job group) and completed stage rows.

    Stage rows come from :func:`tools.stage_metrics.stage_rows` (one
    row per completed stage attempt, last occurrence wins); this pass
    adds the job-group mapping, spill, scan and Python-worker
    accumulables, and failed task counts.
    """
    from tools.stage_metrics import _log_files, stage_rows  # noqa: PLC0415

    # a rolling log (the Spark 4 default) is one directory per app
    apps = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isdir(p)]
    if len(apps) == 1:
        log_dir = apps[0]
    jobs: dict[int, Job] = {}
    extra: dict[tuple[int, int], dict] = {}
    failed: dict[tuple[int, int], int] = {}
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1000.0,
                        stages=list(e.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
                        failed[key] = failed.get(key, 0) + 1
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc = {
                        a.get("Name"): a.get("Value")
                        for a in si.get("Accumulables", [])
                    }
                    extra[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = {
                        k: sum(_num(acc.get(n)) for n in names)
                        for k, names in _ACCUMS.items()
                    }
    rows = stage_rows(log_dir)
    for r in rows:
        key = (r["stage"], r["attempt"])
        r.update(extra.get(key, {}))
        r["failed_tasks"] = failed.get(key, 0)
    return jobs, rows


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def attribute(spans: list[Span], jobs: dict[int, Job], rows: list[dict]) -> dict:
    """Charge jobs and stages to spans by job group and sum the engine
    counters over every span. ``driver_s`` is each span's wall time
    minus the union of the job intervals charged to it."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs.values():
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)
    sids = {s.sid for s in spans}
    stage_job: dict[int, Job] = {}
    for j in sorted(jobs.values(), key=lambda j: j.jid):
        for st in j.stages:
            stage_job.setdefault(st, j)
    ran: dict[int, set[int]] = {}
    tot = {
        "jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0,
        "failed_tasks": 0, "exec_run_s": 0.0, "shuffle_r_mb": 0.0,
        "shuffle_w_mb": 0.0, "spill_mb": 0.0, "scan_mb": 0.0,
        "py_bytes_mb": 0.0, "py_run_s": 0.0, "py_init_s": 0.0,
        "task_gc_s": 0.0,
    }
    for r in rows:
        j = stage_job.get(r["stage"])
        if j is None or j.group not in sids:
            continue
        ran.setdefault(j.jid, set()).add(r["stage"])
        tot["stages"] += 1
        tot["tasks"] += r["tasks"] or 0
        tot["failed_tasks"] += r["failed_tasks"]
        tot["exec_run_s"] += r["run_s"]
        tot["task_gc_s"] += r["gc_s"]
        tot["shuffle_r_mb"] += r["shuf_r_mb"]
        tot["shuffle_w_mb"] += r["shuf_w_mb"]
        tot["spill_mb"] += r["spill"] / 1048576.0
        tot["scan_mb"] += r["scan"] / 1048576.0
        tot["py_bytes_mb"] += r["py_bytes"] / 1048576.0
        tot["py_run_s"] += r["py_run_ms"] / 1000.0
        tot["py_init_s"] += r["py_init_ms"] / 1000.0
    driver_s = 0.0
    first_job: dict[str, float] = {}
    own_self = self_times(spans)
    for s in spans:
        own = by_group.get(s.sid, [])
        tot["jobs"] += len(own)
        for j in own:
            tot["stages_skipped"] += len(set(j.stages) - ran.get(j.jid, set()))
        ivals = [(j.start, j.end or s.end) for j in own]
        if ivals:
            first_job[s.sid] = min(a for a, _ in ivals)
        # a span's own jobs run inside its self time (children set
        # their own group), so driver time is self time minus them
        driver_s += max(0.0, own_self[s.sid] - union_length(ivals))
    tot["driver_s"] = driver_s
    tot["first_job"] = first_job
    return tot

