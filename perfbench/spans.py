"""Measurement helpers: in-memory spans, Spark event-log counters, and
process-tree peak memory. Nothing here imports pyspark."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.
    A disabled tracer records nothing, so untraced runs pay only the
    cost of entering an empty context manager."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.excluded: list[tuple[float, float]] = []  # warm-up windows

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed by someone else (Spark's progress reports)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end, "parent": None, "run_id": self.run_id})

    def windows(self, name: str) -> list[tuple[float, float]]:
        """(start, end) of every finished span called ``name``, leaving
        out those that began during an excluded (warm-up) window."""
        return [
            (s["start"], s["end"])
            for s in self.spans
            if s["name"] == name and s["end"] and not within(s["start"], self.excluded)
        ]

    def durations(self, name: str) -> list[float]:
        """Seconds spent in each span ``windows(name)`` returns."""
        return [b - a for a, b in self.windows(name)]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (q in [0, 100]), interpolating linearly
    between the two nearest samples; 0.0 for no samples. With a few
    dozen samples this moves less from run to run than the
    nearest-rank value, which is a single sample."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def median(values: list[float]) -> float:
    return percentile(values, 50)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every Spark event log under ``log_dir``.
    Times are epoch seconds, matching the span clock."""
    jobs: list[dict] = []
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"submitted": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "launched": info.get("Launch Time", 0) / 1000.0,
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )
    return jobs, tasks


def within(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


def spark_counters(jobs: list[dict], tasks: list[dict], windows: list[tuple[float, float]]) -> dict:
    """The ``spark.*`` counters summed over tasks launched inside the
    measured operation windows."""
    sel = [t for t in tasks if within(t["launched"], windows)]
    return {
        "spark.tasks": len(sel),
        "spark.executor_run_ms": sum(t["run_ms"] for t in sel),
        "spark.gc_ms": sum(t["gc_ms"] for t in sel),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in sel),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in sel),
        "spark.jobs_per_query": (
            sum(1 for j in jobs if within(j["submitted"], windows)) / len(windows) if windows else 0.0
        ),
    }


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set (VmHWM) over ``root_pid`` and all its
    descendants alive now: this Python process, the JVM it launched
    and the JVM's Python workers. Read before the session stops."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:
            continue  # process exited while listing
        pid = int(stat.split("/")[2])
        ppid = int(text.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    total_kb = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
