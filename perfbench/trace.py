"""Tracing for the benchmark's traced runs: in-memory spans, process-tree
sampling from /proc, and a parser for Spark's JSON event log.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the engine, /proc gives memory and CPU of the
whole process tree (Python driver, JVM, Python workers), and the event log
gives Spark's own job, stage and task metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once, when the run ends. Times are epoch seconds so that they line
    up with Spark event-log timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a finished span under the currently open one."""
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": self._stack[-1] if self._stack else None,
                "run_id": self.run_id,
                **attrs,
            }
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# /proc

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the last ')'
    return s[s.rfind(")") + 2 :].split()


def tree_pids(root: int, with_parent: bool = False) -> list:
    """`root` and its descendants, parents before children; with
    `with_parent`, (pid, parent pid) pairs."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [(root, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid) if with_parent else pid)
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the live process tree, plus what its reaped
    children used (cutime/cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return ticks / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Background sampler of the peak summed RSS of a process tree, with
    the RSS per command name at that peak.

    A child of the JVM that still runs the JVM's executable is the instant
    between fork and exec of a Python worker launch: it shares every page
    of the JVM, so it is skipped rather than counted as a second 2.7 GB
    JVM. The root's own peak RSS (VmHWM, which the OS records exactly) is
    a floor, so a single-process tree reports its peak even when it falls
    between two samples."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        by: dict[str, int] = {}
        exes: dict[int, str] = {}
        for pid, ppid in tree_pids(self.root, with_parent=True):
            exe = exes[pid] = _exe(pid)
            if exe.endswith("/java") and exes.get(ppid) == exe:
                continue
            name = _comm(pid)
            by[name] = by.get(name, 0) + _rss_bytes(pid)
        if sum(by.values()) > self.peak:
            self.peak, self.at_peak = sum(by.values()), by
        self.peak = max(self.peak, _hwm_bytes(self.root))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log

def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under `log_dir`, in
    order. Spark 4 writes rolling logs: a directory per application holding
    events_<n>_<app id> files."""
    paths = [
        os.path.join(root, f)
        for root, _, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_")
    ]
    paths.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for p in paths:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_jobs(events: list[dict]) -> list[dict]:
    """One record per Spark job: call site, submit/complete epoch seconds,
    and the task metrics of its stages summed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            site = props.get("callSite.short") or (infos[0]["Stage Name"] if infos else "")
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "site": site,
                "submit": e["Submission Time"] / 1000.0,
                "complete": None,
                "ok": None,
                "stage_run_ms": {},
                "cpu_ns": 0,
                "gc_ms": 0,
                "bytes_written": 0,
                "shuffle_bytes": 0,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j["complete"] = e["Completion Time"] / 1000.0
                j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"], -1))
            m = e.get("Task Metrics")
            if j is None or not m:
                continue
            j["stage_run_ms"].setdefault(e["Stage ID"], []).append(m["Executor Run Time"])
            j["cpu_ns"] += m["Executor CPU Time"]
            j["gc_ms"] += m["JVM GC Time"]
            j["bytes_written"] += m["Output Metrics"]["Bytes Written"]
            j["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    return sorted(jobs.values(), key=lambda j: j["id"])


def sql_executions(events: list[dict]) -> list[dict]:
    """One record per SQL execution: start (epoch seconds) and its
    driver-side SQL metrics summed by name ("size of files read", "written
    output", "number of written files", ...). Task-level input metrics miss
    scans that feed a Python UDF (the reader runs on the thread that feeds
    the Python worker), so scan sizes come from here."""
    names: dict[int, str] = {}
    execs: dict[int, dict] = {}

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", []):
            names[m["accumulatorId"]] = m["name"]
        for c in plan.get("children", []):
            walk(c)

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"])
            if kind == "SparkListenerSQLExecutionStart":
                execs[e["executionId"]] = {"start": e["time"] / 1000.0, "metrics": {}}
        elif kind == "SparkListenerDriverAccumUpdates" and e["executionId"] in execs:
            m = execs[e["executionId"]]["metrics"]
            for aid, value in e["accumUpdates"]:
                if aid in names:
                    m[names[aid]] = m.get(names[aid], 0) + value
    return list(execs.values())


def sql_metric(execs: list[dict], name: str, start: float, end: float) -> int:
    """Sum of SQL metric `name` over executions started in [start, end]."""
    return sum(
        x["metrics"].get(name, 0) for x in execs if start - 0.001 <= x["start"] <= end + 0.001
    )


def jobs_within(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted inside [start, end] (epoch seconds; event-log stamps
    are whole milliseconds, hence the 1 ms slack)."""
    return [j for j in jobs if start - 0.001 <= j["submit"] <= end + 0.001]


def job_s(j: dict) -> float:
    return (j["complete"] or j["submit"]) - j["submit"]


def task_skew(jobs: list[dict]) -> float:
    """max / median task run time of the stage with the most task time."""
    stages: dict[int, list[int]] = {}
    for j in jobs:
        for sid, runs in j["stage_run_ms"].items():
            stages.setdefault(sid, []).extend(runs)
    if not stages:
        return 0.0
    runs = max(stages.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med else 0.0


# pipeline attribution: the collect call sites of plans/pipeline.py
PIPELINE_SITES = {
    "plans/pipeline.py:91": "ckpt_read",
    "plans/pipeline.py:170": "stats",
    "plans/pipeline.py:176": "stats",
}
# A commit append writes one parquet file of <= batch_size small rows (a
# few KB); the output write of a commit batch writes far more. The output
# write's shuffle and write stages run as adaptive-query-execution jobs,
# which carry the CompletableFuture call site instead of the writer's.
COMMIT_MAX_BYTES = 16 * 1024


def pipeline_job_class(j: dict) -> str:
    """write | commit | stats | ckpt_read | other for one pipeline job."""
    for site, cls in PIPELINE_SITES.items():
        if site in j["site"]:
            return cls
    writer = j["site"].startswith("parquet at ")
    if writer and 0 < j["bytes_written"] < COMMIT_MAX_BYTES and j["shuffle_bytes"] == 0:
        return "commit"
    if writer and j["bytes_written"] or j["shuffle_bytes"] or "CompletableFuture" in j["site"]:
        return "write"
    return "other"
