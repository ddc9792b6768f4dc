"""Tracing helpers: spans, the Spark event-log fold, and peak memory of the
process tree.

Each call the benchmark makes into a layer runs under its own Spark job
group. The event log (uncompressed JSON lines) tags every job with
``spark.jobGroup.id``; folding task-end events by the group of their stage's
job gives that call's executor time, shuffle and spill.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans (name, start, end, parent), written out at exit."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(name)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()

    def wall(self, name: str) -> float:
        return next(s["wall_s"] for s in self.spans if s["name"] == name)


@contextmanager
def job_group(sc, group: str):
    """Run the body's Spark jobs under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def fold_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run/CPU seconds, shuffle bytes
    written, bytes spilled to disk, input records read, and the task
    durations (for skew)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "records_read": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                    "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                })
    out = {g: {**_NO_JOBS, "jobs": n, "durations_ms": []} for g, n in jobs.items()}
    for sid, ts in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        g = out[group]
        for t in ts:
            g["tasks"] += 1
            g["executor_run_s"] += t["run_ms"] / 1e3
            g["executor_cpu_s"] += t["cpu_ns"] / 1e9
            g["shuffle_write_bytes"] += t["shuffle_write"]
            g["spill_bytes"] += t["spill"]
            g["records_read"] += t["records_read"]
            g["durations_ms"].append(t["dur_ms"])
    return out


_NO_JOBS = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0, "durations_ms": []}


def group_fold(fold: dict[str, dict], group: str) -> dict:
    """One group's fold; a call that ran no Spark job folds to zeros."""
    return fold.get(group, _NO_JOBS)


def layer_metrics(g: dict, wall_s: float, cores: int) -> dict[str, float]:
    """The per-call metrics of one job group's fold over a call of ``wall_s``."""
    d = g["durations_ms"]
    return {
        "wall_s": wall_s,
        "executor_run_s": g["executor_run_s"],
        "executor_cpu_s": g["executor_cpu_s"],
        "idle_core_share": 1.0 - g["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0,
        "jobs": g["jobs"],
        "tasks": g["tasks"],
        "shuffle_write_bytes": g["shuffle_write_bytes"],
        "spill_bytes": g["spill_bytes"],
        "task_skew": max(d) / max(statistics.median(d), 1.0) if d else 0.0,
    }


class PeakRss:
    """Peak memory of this process and all its descendants (the JVM and its
    Python workers): the largest sum, over one poll of the process tree, of
    each process's proportional set size (Pss in /proc/<pid>/smaps_rollup).
    Pss splits a page shared by forked workers among them, so the sum counts
    each resident page once."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_kb = 0
        self._lock = threading.Lock()  # the poller and the final sample both update peak_kb
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (FileNotFoundError, ProcessLookupError, PermissionError, ValueError):
                continue
        with self._lock:
            self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its live
    descendants, including the children they have reaped (the JVM, the
    Python worker daemon and its workers)."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(v) for v in stat[stat.rfind(")") + 2:].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """Pids of all live descendants of ``root`` (from /proc/<pid>/stat)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
