"""Spans recorded from the benchmark around calls into each layer, and
the Spark event-log summary that yields the engine counters.

Spans stay in memory (name, start, end, parent, trace id) and are
written out once at the end of a traced run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    """Thread-safe: each thread keeps its own stack of open spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "trace": trace,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def self_time(self, name: str) -> float:
        """Sum over spans called `name` of duration minus the time
        covered by their direct children."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return sum(
            s["end"] - s["start"] - kids.get(s["id"], 0.0) for s in self.spans if s["name"] == name
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def eventlog_summary(path: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Engine counters over the jobs submitted in [t0_ms, t1_ms]
    (epoch milliseconds): jobs, stages, tasks, shuffle bytes, spill,
    task GC, busy core-seconds and the idle share of the window's
    cores. The event fields are the ones scripts/profile_eventlog.py
    reads."""
    jobs: set[int] = set()
    stages: set[int] = set()
    tasks = 0
    sh_w = sh_r = spill = 0
    gc_ms = busy_ms = 0.0
    stage_tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                    jobs.add(ev["Job ID"])
                    stages.update(ev.get("Stage IDs", []))
            elif e == "SparkListenerTaskEnd":
                stage_tasks.append(ev)
    # a job lists the stages it may run; skipped stages run no tasks,
    # so the stage count is taken from the tasks that actually ran
    ran: set[int] = set()
    for ev in stage_tasks:
        if ev["Stage ID"] not in stages:
            continue
        ran.add(ev["Stage ID"])
        tasks += 1
        m = ev.get("Task Metrics") or {}
        ti = ev.get("Task Info") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sh_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sh_w += sw.get("Shuffle Bytes Written", 0)
        spill += m.get("Disk Bytes Spilled", 0)
        gc_ms += m.get("JVM GC Time", 0)
        if ti:
            busy_ms += ti["Finish Time"] - ti["Launch Time"]
    wall_s = max((t1_ms - t0_ms) / 1000.0, 1e-9)
    busy_s = busy_ms / 1000.0
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": tasks,
        "shuffle_write_bytes": sh_w,
        "shuffle_read_bytes": sh_r,
        "spill_bytes": spill,
        "task_gc_s": gc_ms / 1000.0,
        "busy_core_s": busy_s,
        "idle_frac": 1.0 - busy_s / (cores * wall_s),
    }


def find_eventlog(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
