"""Spans, Spark counters and the statistics the benchmark reports.

A :class:`Tracer` records one span per call into an engine layer. Each
span runs under its own Spark job group, so the tracer can read that
span's jobs and stages back from the driver's status store
(``statusTracker().getJobIdsForGroup`` and ``AppStatusStore.stageData``).
Reading the status store starts no Spark job. The counters of a tree of
spans are read when its outermost span closes, outside every span's
interval. A disabled tracer records nothing and touches no Spark state,
which is how untraced runs and untraced ops stay untraced.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Stage-level counters summed over a span's stages.
COUNTERS = (
    "tasks", "task_busy_s", "task_cpu_s", "shuffle_bytes", "spill_bytes",
    "input_bytes",
)


@dataclass
class Span:
    name: str
    parent: Span | None
    start: float  # time.time() seconds, comparable with Spark's stage dates
    end: float = 0.0
    group: str = ""
    jobs: set[int] = field(default_factory=set)
    stages: dict[int, dict] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def subtree(self, spans: list[Span]) -> list[Span]:
        """This span and every span nested under it."""
        out = []
        for s in spans:
            p = s
            while p is not None and p is not self:
                p = p.parent
            if p is self:
                out.append(s)
        return out


class Tracer:
    """Records spans while ``enabled`` is true; a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs: float):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time(), group=f"perfbench-{len(self.spans)}", attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc._jsc.clearJobGroup()
                # Counters are read once the outermost span has closed, so
                # the reads add no time to any span. Job and stage end
                # events reach the status store through the listener bus;
                # drain it first so the last action's counters are in place.
                self._sc._jsc.sc().listenerBus().waitUntilEmpty()
                for t in s.subtree(self.spans):
                    self._collect(t)

    def _collect(self, s: Span) -> None:
        """Read the span's own jobs and stages from the status store."""
        sc = self._sc
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for job in tracker.getJobIdsForGroup(s.group):
            s.jobs.add(job)
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                if stage in s.stages:
                    continue
                attempts = store.stageData(stage, False, gw.jvm.java.util.ArrayList(), True, quantiles)
                for k in range(attempts.size()):
                    d = attempts.apply(k)
                    if d.status().toString() == "SKIPPED" or not d.submissionTime().isDefined():
                        continue
                    sub = d.submissionTime().get().getTime() / 1000.0
                    comp = d.completionTime()
                    run_q = d.taskMetricsDistributions()
                    p50 = p100 = 0.0
                    if run_q.isDefined():
                        q = run_q.get().executorRunTime()
                        p50, p100 = q.apply(0), q.apply(1)
                    agg = s.stages.setdefault(stage, {
                        "tasks": 0, "task_busy_s": 0.0, "task_cpu_s": 0.0,
                        "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                        "intervals": [], "skew": [],
                    })
                    agg["tasks"] += d.numTasks()
                    agg["task_busy_s"] += d.executorRunTime() / 1000.0
                    agg["task_cpu_s"] += d.executorCpuTime() / 1e9
                    agg["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
                    agg["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    agg["input_bytes"] += d.inputBytes()
                    end = comp.get().getTime() / 1000.0 if comp.isDefined() else s.end
                    agg["intervals"].append((sub, end))
                    if d.numTasks() > 1 and p50 > 0:
                        agg["skew"].append(p100 / p50)


def span_counters(span: Span, spans: list[Span]) -> dict[str, float]:
    """Spark work of ``span`` and its children: jobs, stages, summed stage
    counters, the stage-active time and the driver gap around it."""
    stages: dict[int, dict] = {}
    jobs: set[int] = set()
    for s in span.subtree(spans):
        jobs |= s.jobs
        stages.update(s.stages)
    out = {"wall_s": span.wall, "jobs": len(jobs), "stages": len(stages)}
    for key in COUNTERS:
        out[key] = sum(st[key] for st in stages.values())
    intervals = [iv for st in stages.values() for iv in st["intervals"]]
    active = union_length(intervals, span.start, span.end)
    out["driver_gap_s"] = max(span.wall - active, 0.0)
    skews = [k for st in stages.values() for k in st["skew"]]
    out["task_skew"] = max(skews) if skews else 1.0
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten of ``n`` samples above it,
    100 * (1 - 10 / n); None below 20 samples, where it would not lie
    above the median."""
    if n < 20:
        return None
    return 100.0 * (1.0 - 10.0 / n)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values`` (``pct`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def latency_summary(values: list[float]) -> dict[str, float | None]:
    """Median, geometric mean, and the tail at :func:`tail_percentile`
    with that percentile and the sample count (tail None below 20)."""
    pct = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "geomean": geomean(values),
        "tail": None if pct is None else percentile(values, pct),
        "tail_pct": pct,
        "n": len(values),
    }
