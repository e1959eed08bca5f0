"""Spans, Spark status-store readers, the process-tree memory sampler and the
statistics the benchmark reports.

Everything here observes the program from outside: spans are opened by
the benchmark around its calls into the package, Spark jobs and stages
come from the status store (the UI's REST view of it), and job spans are
attributed to the operation whose interval contains their submission,
i.e. by job-id range, which also catches jobs that streaming threads
submit outside any job group.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


# ---------------------------------------------------------------- stats

def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that still has at
    least ``beyond`` samples above it; None with too few samples.

    With n sorted samples the value at 0-based rank r has n-1-r samples
    beyond it, so the highest such rank is n-1-beyond."""
    n = len(values)
    if n < beyond + 1:
        return None
    r = n - 1 - beyond
    return 100.0 * (r + 1) / n, sorted(values)[r]


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    """One timed interval; ``op`` groups the spans of one operation."""
    name: str
    kind: str
    start: float
    end: float
    op: int
    parent: int | None = None
    sid: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, kind: str, start: float, end: float, op: int,
            parent: int | None = None, **attrs) -> Span:
        s = Span(name, kind, start, end, op, parent, len(self.spans), attrs)
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to [lo, hi]."""
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def self_time(tracer: Tracer, span: Span) -> float:
    """Span duration minus the part of it its children cover."""
    return span.dur - union_length(
        [(c.start, c.end) for c in tracer.children(span)],
        span.start, span.end)


# ------------------------------------------------------- status store

def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class StatusStore:
    """Jobs and stages of the running application, via the UI REST API."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until every posted listener event reached the store."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_stages(self) -> tuple[list[dict], dict[int, dict]]:
        self.drain()
        jobs = self._get("/jobs")
        stages = {}
        for st in self._get("/stages"):
            if st.get("status") == "SKIPPED":
                continue
            # a retried stage appears once per attempt: keep them all
            stages.setdefault(st["stageId"], []).append(st)
        for j in jobs:
            j["t0"] = _ts(j.get("submissionTime"))
            j["t1"] = _ts(j.get("completionTime")) or j["t0"]
        return jobs, stages


# ------------------------------------------------------------- memory

def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants: resident
    memory with each shared page split between the processes sharing it,
    so forked Python workers are not counted once per fork."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited between listing and reading
    return total


class MemSampler:
    """Peak proportional set size of this process and all its descendants
    (the JVM and the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def now() -> float:
    return time.time()
