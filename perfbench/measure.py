"""Measurement helpers: latency summaries, process-tree peak RSS and
the span tracer behind the per-layer numbers."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above
    it: ``(value, percentile, n_samples)``.  With ``beyond`` samples or
    fewer no such percentile exists, and the maximum is reported as
    the 100th percentile."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n <= beyond:
        return xs[-1], 100.0, n
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the driver
    JVM and the Spark Python workers are descendants)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's summed RSS on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    id: int = 0
    jobs: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls into the engine's modules from outside.

    Every ``span`` returns its duration, so the workloads time their
    operations through it whether tracing is on or off.  With tracing
    on, each span is also kept in memory with its parent and request
    id, and a span opened with ``jobs=True`` tags the calling thread's
    Spark jobs with a job group and counts their jobs and tasks from
    the status tracker when it closes."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: str | None = None, jobs: bool = False):
        sp = Span(name, time.perf_counter(), 0.0, None, request)
        if not self.enabled:
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp.id = next(self._ids)
        sp.parent = stack[-1].id if stack else None
        if sp.request is None and stack:
            sp.request = stack[-1].request
        group = f"perfbench-{sp.id}"
        if jobs:
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.jobs, sp.tasks = self._count_jobs(group)
            with self._lock:
                self.spans.append(sp)

    def _count_jobs(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Self time (duration minus the time its child spans cover)
        summed per layer, the layer being the span name up to its last
        dot.  Children of one span run sequentially in this benchmark,
        so their durations do not overlap."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + s.seconds - child.get(s.id, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")
