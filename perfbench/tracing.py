"""Spans kept in memory, and a per-job-group rollup of the Spark event log.

The benchmark records a span around each call it makes into a layer
(``Tracer.span``) and runs the Spark jobs of each stage or query under a
job group named after it. After the traced rep, ``rollup_groups`` reads the
session's event log and sums the task-level work of each group.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it that its children cover."""
        s = self.spans[idx]
        covered = _union_length(
            [(c.start, c.end) for c in self.spans if c.parent == idx], s.start, s.end
        )
        return (s.end - s.start) - covered

    def total(self, name: str, self_only: bool = False) -> float:
        return sum(
            self.self_time(i) if self_only else s.end - s.start
            for i, s in enumerate(self.spans)
            if s.name == name
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


@contextmanager
def job_group(sc, name: str):
    """Run the Spark jobs submitted inside the block under job group ``name``."""
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


_EMPTY = {"jobs": 0, "task_core_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0, "task_skew": 0.0}


def rollup_groups(events) -> dict[str, dict[str, float]]:
    """Per job group: jobs, task core-seconds, max ÷ median task duration,
    shuffle read + write MB, spill MB and JVM GC seconds.

    ``events`` is an iterable of event-log dicts (``sparklog.iter_events``).
    Only successful, non-speculative task attempts count. A task belongs to
    the group of the job that submitted its stage; jobs without a group
    roll up under ``""``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[group] = jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs") or []:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev.get("Stage ID"), []).append(ev)
    out = {g: dict(_EMPTY, jobs=n) for g, n in jobs.items()}
    durations: dict[str, list[float]] = {g: [] for g in jobs}
    for sid, evs in tasks.items():
        group = stage_group.get(sid, "")
        agg = out.setdefault(group, dict(_EMPTY))
        for ev in evs:
            info = ev.get("Task Info") or {}
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success" or info.get("Speculative"):
                continue
            dur = ((info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)) / 1e3
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            shuffle = (
                (rd.get("Remote Bytes Read") or 0) + (rd.get("Local Bytes Read") or 0)
                + (wr.get("Shuffle Bytes Written") or 0)
            )
            spill = (m.get("Memory Bytes Spilled") or 0) + (m.get("Disk Bytes Spilled") or 0)
            agg["task_core_s"] += dur
            agg["shuffle_mb"] += shuffle / 1e6
            agg["spill_mb"] += spill / 1e6
            agg["gc_s"] += (m.get("JVM GC Time") or 0) / 1e3
            durations.setdefault(group, []).append(dur)
    for group, ds in durations.items():
        med = statistics.median(ds) if ds else 0.0
        out[group]["task_skew"] = max(ds) / med if med > 0 else 0.0
    return out
