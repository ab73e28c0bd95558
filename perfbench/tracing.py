"""Spans, self time and Spark event-log counters for the traced run.

Spans are recorded from the benchmark's own files around calls into the
package's public functions; nothing inside the package is instrumented.
They are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so the
    untraced run pays one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover.
        Spans nest as context managers on one thread, so children are
        disjoint and lie inside their parent."""
        out = [s.duration for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def self_totals(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = {}
        for s, own in zip(self.spans, self.self_times()):
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "self_s": st,
                }) + "\n")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class StageStats:
    tasks: int = 0
    failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    durations: list = field(default_factory=list)


def _events(log_dir: str):
    """Parsed events of the one application logged under ``log_dir``. A
    rolling log (the Spark 4 default) is a directory of events_<n>_<app>
    files, read in order; a log still being written may end in a partial
    line, which is skipped."""
    def order(path: str) -> int:
        base = os.path.basename(path)
        return int(base.split("_")[1]) if base.startswith("events_") else 0

    files = sorted(
        (f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")),
        key=order,
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group totals from a Spark event log written with
    ``spark.eventLog.enabled``: jobs, stages, tasks, failed tasks, executor
    run and CPU time, shuffle bytes, spill, and the worst stage's ratio of
    its slowest task to its median task. Job groups are the operation ids
    the benchmark sets around each call."""
    stage_group: dict[int, str] = {}
    stages: dict[int, StageStats] = {}
    groups: dict[str, dict] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            g = groups.setdefault(group, {"jobs": 0, "stages": set()})
            g["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is not None and "Submission Time" in info:
                groups[group]["stages"].add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_group:
                continue
            st = stages.setdefault(sid, StageStats())
            info = ev["Task Info"]
            st.tasks += 1
            st.failed += bool(info.get("Failed", False))
            st.durations.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out = {}
    for group, g in groups.items():
        sids = [s for s in stage_group if stage_group[s] == group]
        agg = StageStats()
        straggler = 1.0
        for sid in sids:
            st = stages.get(sid)
            if st is None:
                continue
            for k in ("tasks", "failed", "run_ms", "cpu_ns", "shuffle_write", "shuffle_read", "spill"):
                setattr(agg, k, getattr(agg, k) + getattr(st, k))
            med = statistics.median(st.durations)
            if len(st.durations) >= 2 and med > 0:
                straggler = max(straggler, max(st.durations) / med)
        out[group] = {
            "jobs": g["jobs"], "stages": len(g["stages"]), "tasks": agg.tasks,
            "failed_tasks": agg.failed, "executor_run_s": agg.run_ms / 1e3,
            "executor_cpu_s": agg.cpu_ns / 1e9, "shuffle_write_mb": agg.shuffle_write / 2**20,
            "shuffle_read_mb": agg.shuffle_read / 2**20, "spill_mb": agg.spill / 2**20,
            "straggler_ratio": straggler,
        }
    return out
