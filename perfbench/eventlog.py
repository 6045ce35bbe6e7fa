"""Fold a Spark event log into per-call layer measures.

Every traced call runs under its own Spark job group; the event log
records the group on each job and stage, and the task metrics on each
task end. Folding the log per group gives, for each call: jobs, stages,
tasks, shuffle bytes read and written, spill, summed executor run time,
and the part of the call's wall time during which no task of it ran
(`driver_ms`: planning, file listing, scheduling, py4j and commit work).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

MEASURES = (
    "ms",
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_ms",
    "driver_ms",
)


@dataclass
class Call:
    """One traced call: the span name, its job group and its wall-clock
    interval in epoch milliseconds."""

    name: str
    group: str
    start_ms: float
    end_ms: float


@dataclass
class _Acc:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_ms: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)


def read_events(log_dir: str) -> Iterator[dict]:
    """Events of every application log under log_dir, in file order. Spark
    4 writes rolling logs as eventlog_v2_<app>/events_<n>_<app>; a plain
    single-file log is read as is. A truncated last line is skipped."""
    paths = []
    for entry in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, entry)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            paths += [os.path.join(p, f) for f in parts]
        elif not entry.startswith("."):
            paths.append(p)
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(events: Iterable[dict], calls: list[Call]) -> dict[str, dict[str, float]]:
    """Per-call measures keyed by job group. Jobs and stages outside any
    traced group are ignored."""
    acc = {c.group: _Acc() for c in calls}
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g in acc:
                acc[g].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g in acc:
                stage_group[e["Stage Info"]["Stage ID"]] = g
                acc[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            if g is None:
                continue
            a = acc[g]
            a.tasks += 1
            info = e.get("Task Info") or {}
            if info.get("Launch Time") and info.get("Finish Time"):
                a.intervals.append((info["Launch Time"], info["Finish Time"]))
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            a.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            a.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            a.executor_ms += m.get("Executor Run Time", 0)
    out = {}
    for c in calls:
        a = acc[c.group]
        wall = c.end_ms - c.start_ms
        out[c.group] = {
            "ms": wall,
            "jobs": a.jobs,
            "stages": a.stages,
            "tasks": a.tasks,
            "shuffle_read_bytes": a.shuffle_read_bytes,
            "shuffle_write_bytes": a.shuffle_write_bytes,
            "spill_bytes": a.spill_bytes,
            "executor_ms": a.executor_ms,
            "driver_ms": wall - _covered(a.intervals, c.start_ms, c.end_ms),
        }
    return out
