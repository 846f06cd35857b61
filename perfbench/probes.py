"""Measurement helpers that observe the program from outside: host
facts, process-tree peak RSS from ``/proc``, in-memory spans, and
Spark event-log reading. Nothing here reaches inside htmlparser_spark.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path


# -------------------------------------------------------------- host facts

def host_facts(bench_host, full: bool) -> dict:
    """nproc, load average and a VM health reading, so figures from
    different hosts or degraded windows are never compared silently.

    ``full`` runs bench.py's ``vm_health_probe``, which takes about 12 s
    on a 4-core host (its 8-process leg oversubscribes the cores);
    otherwise only its single-thread reading is taken, with bench.py's
    own loop at a tenth of the length (about 0.2 s)."""
    facts = {"nproc": len(os.sched_getaffinity(0)),
             "loadavg": Path("/proc/loadavg").read_text().split()[:3]}
    if full:
        facts["vm_health"] = bench_host.vm_health_probe()
    else:
        n = 2_000_000
        t0 = time.time()
        bench_host._burn(n)
        facts["vm_health"] = {
            "single_thread_mops": round(n / (time.time() - t0) / 1e6, 1)}
    return facts


# ------------------------------------------------------------ peak RSS

def _proc_table():
    """({ppid: [pid]}, {pid: rss pages}) from /proc."""
    children = defaultdict(list)
    rss = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        children[int(fields[1])].append(int(d))
        rss[int(d)] = int(fields[21])
    return children, rss


def _descendants(root: int, children) -> list:
    out, todo = [], list(children.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    children, rss = _proc_table()
    pids = [root] + _descendants(root, children)
    return sum(rss.get(p, 0) for p in pids) * os.sysconf("SC_PAGE_SIZE")


def end_children(timeout: float = 60.0) -> None:
    """Close the Spark gateway JVM's stdin (it exits on EOF, and its
    Python worker daemon with it) and wait until every descendant of
    this process has ended; kill what is left after ``timeout``."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while True:
        try:  # reap exited children so they do not linger as zombies
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = _descendants(os.getpid(), _proc_table()[0])
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


class PeakRss:
    """Samples the RSS of this process and all its descendants (the
    driver JVM and the Python workers it forks) every ``interval``
    seconds while the ``with`` block runs; ``peak_mb`` is the highest
    sample."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans (name, start, end, parent, trace id); written out
    once, at the end of the run."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list = []
        self._stack: list = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "trace_id": self.trace_id, **attrs})
        return len(self.spans) - 1

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                parent = tracer._stack[-1] if tracer._stack else None
                self.id = tracer.add(name, time.time(), 0.0, parent, **attrs)
                tracer._stack.append(self.id)
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                tracer.spans[self.id]["end"] = time.time()

        return _Span()

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def children(self, sid: int) -> list:
        return [s for s in self.spans if s["parent"] == sid]

    def covered(self, sid: int) -> float:
        """Seconds of span ``sid`` covered by the union of its direct
        children (clipped to the parent's interval)."""
        p = self.spans[sid]
        iv = sorted((max(c["start"], p["start"]), min(c["end"], p["end"]))
                    for c in self.children(sid))
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def self_times(self) -> dict:
        """Self time summed per layer: each span's duration minus the
        part its children cover."""
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s.get("layer", s["name"])] += (self.duration(s["id"])
                                               - self.covered(s["id"]))
        return dict(out)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps({"trace_id": self.trace_id,
                                    "spans": self.spans,
                                    "self_s_by_layer": self.self_times()},
                                   indent=1))


# --------------------------------------------------------------- event log

def read_events(evdir: Path) -> list:
    """Events of the most recent application in ``evdir`` (an
    uncompressed log, plain file or Spark 4 rolling directory)."""
    logs = sorted(evdir.iterdir(), key=lambda p: p.stat().st_mtime)
    f = logs[-1]
    parts = sorted(f.glob("events_*")) if f.is_dir() else [f]
    events = []
    for p in parts:
        with p.open() as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def _acc(stage_info: dict, name: str) -> float:
    return sum(float(a.get("Value") or 0)
               for a in stage_info.get("Accumulables", [])
               if a.get("Name") == name)


class EventLog:
    """Jobs, stages, SQL executions and per-task metrics of one
    application, with epoch-second times (the same clock as
    ``time.time()`` on the driver)."""

    def __init__(self, events: list):
        self.stages: dict = {}
        self.jobs: dict = {}
        self.sql: dict = {}
        self.tasks: dict = defaultdict(list)
        for ev in events:
            k = ev.get("Event", "")
            if k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                self.stages[si["Stage ID"]] = {
                    "id": si["Stage ID"],
                    "start": si.get("Submission Time", 0) / 1e3,
                    "end": si.get("Completion Time", 0) / 1e3,
                    "py_sent": _acc(si, "data sent to Python workers"),
                    "py_returned": _acc(si,
                                        "data returned from Python workers"),
                    "job": None}
            elif k == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks[ev["Stage ID"]].append({
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "records_in": (m.get("Input Metrics") or {})
                    .get("Records Read", 0),
                    "failed": ev.get("Task End Reason", {}).get("Reason")
                    != "Success"})
            elif k == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"], "start": ev["Submission Time"] / 1e3,
                    "end": None, "stages": ev["Stage IDs"],
                    "sql": int(sql_id) if sql_id is not None else None}
            elif k == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif k.endswith("SparkListenerSQLExecutionStart"):
                self.sql[ev["executionId"]] = {
                    "id": ev["executionId"], "start": ev["time"] / 1e3,
                    "end": None, "description": ev.get("description", "")}
            elif k.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in self.sql:
                    self.sql[ev["executionId"]]["end"] = ev["time"] / 1e3
        for j in self.jobs.values():
            for sid in j["stages"]:
                if sid in self.stages:
                    self.stages[sid]["job"] = j["id"]

    def between(self, kind: str, t0: float, t1: float) -> list:
        """Completed jobs / stages / SQL executions inside [t0, t1]."""
        items = {"job": self.jobs, "stage": self.stages, "sql": self.sql}[kind]
        return sorted((x for x in items.values()
                       if x["end"] and x["start"] >= t0 and x["end"] <= t1),
                      key=lambda x: x["start"])

    def stage_totals(self, stage_ids) -> dict:
        """Spill, failed tasks and shuffle bytes written, summed over
        the tasks of ``stage_ids`` (task, CPU and GC time come from
        bench/stageprof.parse_events)."""
        ts = [t for sid in stage_ids for t in self.tasks.get(sid, ())]
        return {"spill_mb": sum(t["spill_b"] for t in ts) / 1e6,
                "failed_tasks": sum(t["failed"] for t in ts),
                "shuffle_write_mb": sum(t["shuffle_write_b"]
                                        for t in ts) / 1e6}

    def task_max_over_median(self, stage_ids) -> float:
        runs = [t["run_s"] for sid in stage_ids
                for t in self.tasks.get(sid, ())]
        if not runs:
            return 0.0
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0
