"""Spans, self time, percentiles and Spark status-store counters.

A ``Tracer`` records one span per layer call made by the benchmark:
name, start, end, parent and run id. Spans stay in memory until
``write``. When a SparkContext is attached, each span sets its own
Spark job group, so ``StatusCollector`` can attribute jobs, stages,
shuffle and spill bytes, input bytes, executor CPU and scheduler delay
to the span afterwards. A disabled tracer times nothing and sets no job
group, so untraced runs pay only a function call per layer call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import time
from dataclasses import dataclass, field

MIN_BEYOND = 10  # samples a reported percentile must have beyond it


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a span named ``name``; yields the span (or
        None when tracing is off) so callers can attach counts."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, time.perf_counter(),
                 parent=parent.span_id if parent else None, run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.job_group(s), name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self.job_group(self._stack[-1]), self._stack[-1].name,
                                        False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_group(self, s: Span) -> str:
        return f"{self.run_id}:{s.span_id}"

    def write(self, path: str, groups: dict[str, dict]) -> None:
        """One JSON line per span, with its self time and the counters of
        the Spark jobs it ran itself (``groups``: job group → counters)."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "span_id": s.span_id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "self_s": self_time(s, self.spans),
                    **s.attrs, **groups.get(self.job_group(s), {}),
                }) + "\n")


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its direct children
    cover (overlapping children are counted once)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans if c.parent == span.span_id
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def total_self(spans: list[Span], name: str) -> float:
    return sum(self_time(s, spans) for s in spans if s.name == name)


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def tail(values: list[float], q: float) -> float:
    """The ``q`` quantile if at least ``MIN_BEYOND`` samples lie beyond
    it; otherwise the highest order statistic that has that many beyond
    it; with too few samples for any, the median. Returns 0 for no
    samples."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0
    rank = max(0, math.ceil(q * n) - 1)  # nearest-rank quantile
    rank = min(rank, n - 1 - MIN_BEYOND)
    if rank < (n - 1) // 2:
        return median(v)
    return v[rank]


class StatusCollector:
    """Reads per-job-group counters from the JVM ``AppStatusStore``,
    which Spark keeps even with the UI disabled."""

    STAGE_FIELDS = {
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
        "input_bytes": "inputBytes",
        "executor_cpu_ns": "executorCpuTime",
    }

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def by_group(self) -> dict[str, dict]:
        """job group → summed counters over its jobs and their stages."""
        self.drain()
        out: dict[str, dict] = {}
        jobs = self.store.jobsList(None)
        stage_group: dict[int, str] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            g = g.get()
            c = out.setdefault(g, _zero())
            c["jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_group[int(ids.apply(k))] = g
        gw = self.sc._gateway
        stages = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            g = stage_group.get(int(s.stageId()))
            if g is None or s.numCompleteTasks() == 0:
                continue  # skipped stages ran no tasks
            c = out[g]
            c["stages"] += 1
            c["tasks"] += int(s.numCompleteTasks())
            for key, attr in self.STAGE_FIELDS.items():
                if isinstance(attr, tuple):
                    c[key] += sum(int(getattr(s, a)()) for a in attr)
                else:
                    c[key] += int(getattr(s, attr)())
            tasks = self.store.taskList(int(s.stageId()), int(s.attemptId()), 1 << 30)
            for k in range(tasks.size()):
                c["scheduler_delay_ms"] += int(tasks.apply(k).schedulerDelay())
        return out


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0, "executor_cpu_ns": 0, "scheduler_delay_ms": 0}


def counters_for(tracer: Tracer, groups: dict[str, dict], names: set[str]) -> dict:
    """Sum the status-store counters of every span named in ``names``
    and of all spans nested below them."""
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)
    total = _zero()

    def add(s: Span) -> None:
        for k, v in groups.get(tracer.job_group(s), {}).items():
            total[k] += v
        for c in children.get(s.span_id, []):
            add(c)

    for s in tracer.spans:
        if s.name in names and not _has_ancestor_named(s, names, tracer.spans):
            add(s)
    return total


def _has_ancestor_named(s: Span, names: set[str], spans: list[Span]) -> bool:
    by_id = {x.span_id: x for x in spans}
    p = by_id.get(s.parent)
    while p is not None:
        if p.name in names:
            return True
        p = by_id.get(p.parent)
    return False
