"""In-memory spans around calls into the program, Spark job accounting,
and host counters.

Spans are recorded only from the benchmark's own files, around calls
into public functions, from the benchmark's main thread; nothing inside
the program is instrumented. A disabled tracer records nothing, so
untraced runs measure the program alone.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str | None]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent, parent_op = self._stack[-1] if self._stack else (None, None)
        op = op if op is not None else parent_op
        sid = next(self._ids)
        self._stack.append((sid, op))
        t0 = time.monotonic()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, time.monotonic(), parent, op))

    def durations(self, name: str, op_prefix: str = "") -> list[float]:
        """Durations of the spans called ``name`` whose op id starts
        with ``op_prefix`` (children inherit their parent's op id)."""
        return [
            s.end - s.start
            for s in self.spans
            if s.name == name and (s.op or "").startswith(op_prefix)
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: its total duration minus the part of it that
        its child spans cover (children of one span never overlap, as
        spans nest on one stack)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "self_times": self.self_times(),
                },
                fh,
            )


class JobCounter:
    """Spark jobs, stages and tasks per op, via job groups and the
    status tracker. Groups are resolved after the timed ops, so the
    lookups cost nothing while timing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._groups: dict[str, list[str]] = {}
        self._n = itertools.count()

    @contextmanager
    def group(self, kind: str):
        """Tag the Spark jobs this thread starts inside the block."""
        if not self.enabled:
            yield
            return
        gid = f"perfbench-{kind}-{next(self._n)}"
        self._groups.setdefault(kind, []).append(gid)
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def per_call(self, kind: str) -> tuple[float, float, float]:
        """Mean (jobs, stages that ran tasks, tasks) per tagged block."""
        gids = self._groups.get(kind, [])
        if not gids:
            return 0.0, 0.0, 0.0
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for gid in gids:
            for jid in st.getJobIdsForGroup(gid):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
        n = len(gids)
        return jobs / n, stages / n, tasks / n


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over this process's allowed CPUs."""
    cpus = os.sched_getaffinity(0)
    busy = steal = 0
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu") and line[3].isdigit():
                f = line.split()
                if int(f[0][3:]) in cpus:
                    busy += sum(int(x) for x in f[1:4]) + int(f[6]) + int(f[7])
                    steal += int(f[8])
    return busy, steal


class HostMeter:
    """CPU-busy and steal seconds between ``start`` and ``stop``."""

    def start(self) -> None:
        self._b0, self._s0 = _cpu_jiffies()

    def stop(self) -> tuple[float, float]:
        b1, s1 = _cpu_jiffies()
        hz = os.sysconf("SC_CLK_TCK")
        return (b1 - self._b0) / hz, (s1 - self._s0) / hz


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident sizes of this process and its descendants
    (the Spark JVM and its Python workers)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
