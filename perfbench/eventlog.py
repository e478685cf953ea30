"""Spark event-log parser: per-operation task metrics.

The benchmark runs every operation under its own job group. Each
`SparkListenerJobStart` carries the group in its properties and lists the
job's stages, so every `SparkListenerTaskEnd` (which names its stage) is
attributed to the operation that launched it. Needs an uncompressed log
(`spark.eventLog.compress=false`); single-file and rolling layouts are
both read.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

UNATTRIBUTED = "(none)"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    #: stage id -> task wall times (ms)
    task_ms: dict = field(default_factory=dict)

    def metrics(self) -> dict[str, float]:
        return {
            "jobs": self.jobs,
            "stages": len(self.stages),
            "tasks": self.tasks,
            "failed_tasks": self.failed_tasks,
            "run_ms": self.run_ms,
            "cpu_ms": round(self.cpu_ms, 3),
            "gc_ms": self.gc_ms,
            "duty": round(self.cpu_ms / self.run_ms, 4) if self.run_ms else 0.0,
            "input_bytes": self.input_bytes,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "shuffle_read_bytes": self.shuffle_read_bytes,
            "spill_bytes": self.spill_bytes,
            "task_skew": self.task_skew(),
        }

    def task_skew(self) -> float:
        """max ÷ median task time of the stage with the most task time."""
        if not self.task_ms:
            return 0.0
        times = max(self.task_ms.values(), key=sum)
        return round(max(times) / max(statistics.median(times), 1), 3)


def log_files(path: str) -> list[str]:
    """Event-log files under `path` in write order (rolling logs are
    numbered events_1_…, events_2_…)."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("appstatus", ".")) or f.endswith(".crc"):
                continue
            m = re.match(r"events_(\d+)_", f)
            found.append((root, int(m.group(1)) if m else 0, f))
    return [os.path.join(r, f) for r, _, f in sorted(found)]


def parse(path: str) -> dict[str, GroupStats]:
    """Per-job-group stats from the event log at `path`."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}

    def stats(g: str) -> GroupStats:
        return groups.setdefault(g, GroupStats())

    for fname in log_files(path):
        with open(fname) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNATTRIBUTED
                    stats(g).jobs += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stats(stage_group.get(ev["Stage ID"], UNATTRIBUTED)), ev)
    return groups


def _add_task(st: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    stage = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
    st.stages.add(stage)
    st.tasks += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        st.failed_tasks += 1
    st.task_ms.setdefault(stage, []).append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    st.gc_ms += m.get("JVM GC Time", 0)
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)


def merge(parts: list[GroupStats]) -> GroupStats:
    """Sum several groups (e.g. one query over all passes)."""
    out = GroupStats()
    for p in parts:
        out.jobs += p.jobs
        out.stages |= p.stages
        out.tasks += p.tasks
        out.failed_tasks += p.failed_tasks
        out.run_ms += p.run_ms
        out.cpu_ms += p.cpu_ms
        out.gc_ms += p.gc_ms
        out.input_bytes += p.input_bytes
        out.shuffle_write_bytes += p.shuffle_write_bytes
        out.shuffle_read_bytes += p.shuffle_read_bytes
        out.spill_bytes += p.spill_bytes
        for k, v in p.task_ms.items():
            out.task_ms.setdefault(k, []).extend(v)
    return out
