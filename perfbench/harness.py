"""Measurement plumbing shared by the workloads: spans, the environment
record, Spark job counting and the engine session's lifetime."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int


@dataclass
class Tracer:
    """Spans around every call the benchmark makes into a layer.

    Spans stay in memory; `dump` returns them for the run artifact. A
    disabled tracer records nothing, so untraced runs pay no span cost."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), math.nan, parent, self._op, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Mark the spans opened inside as belonging to one operation."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    def wrap(self, module, attr: str, name: str, label=None) -> None:
        """Replace `module.attr` with a spanned version. `label(args)` adds
        a suffix to the span name (e.g. the table a write targets)."""
        fn = getattr(module, attr)

        def spanned(*args, **kwargs):
            suffix = f".{label(args)}" if label else ""
            with self.span(name + suffix):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child[sp.sid]
        return out

    def totals(self, prefix: str) -> float:
        """Wall time under spans named `prefix…`, not counting a matching
        span inside another matching span twice."""
        hit = [sp.name.startswith(prefix) for sp in self.spans]
        return sum(sp.end - sp.start for sp in self.spans
                   if hit[sp.sid] and (sp.parent is None or not hit[sp.parent]))

    def dump(self, t0: float) -> list[dict]:
        return [
            {"id": sp.sid, "name": sp.name, "parent": sp.parent, "op": sp.op,
             "start_s": round(sp.start - t0, 6), "end_s": round(sp.end - t0, 6)}
            for sp in self.spans
        ]


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


class EnvRecord:
    """nproc, load average before/after, the /proc/stat steal delta and
    wall time of one run, so a noisy run is visible from its artifact."""

    def __init__(self) -> None:
        self.wall0 = time.time()
        self.t0 = time.perf_counter()
        self.load_before = os.getloadavg()
        self.steal0, self.total0 = _steal_ticks()

    def finish(self) -> dict:
        steal1, total1 = _steal_ticks()
        d_total = max(total1 - self.total0, 1)
        return {
            "nproc": os.cpu_count(),
            "load_before": [round(x, 2) for x in self.load_before],
            "load_after": [round(x, 2) for x in os.getloadavg()],
            "steal_ticks": steal1 - self.steal0,
            "steal_share": round((steal1 - self.steal0) / d_total, 5),
            "wall_s": round(time.perf_counter() - self.t0, 3),
            "started_unix": round(self.wall0, 3),
        }


class JobCounter:
    """Jobs, stages and tasks per job group, read from Spark's public
    status tracker. Every operation runs under its own job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    @contextlib.contextmanager
    def group(self, group_id: str):
        self.sc.setJobGroup(group_id, group_id, interruptOnCancel=False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group_id: str) -> dict[str, int]:
        """Jobs of the group, and the stages and tasks that ran (a stage
        whose output was reused is skipped and runs no task)."""
        jobs = self.tracker.getJobIdsForGroup(group_id)
        ran = {}
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else []:
                st = self.tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks:
                    ran[s] = st.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(ran), "tasks": sum(ran.values())}


def jvm_peak_rss_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of the engine's JVM."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0
