"""Span recorder: one span per call into a package layer, with the Spark work
each span caused.

A span sets its own Spark job group while it is open (restoring the
enclosing span's group when it closes), so every job the call submits
carries the span's id.  When the span closes, the recorder waits for Spark's
listener bus to drain (the status store is filled from it asynchronously)
and then reads those jobs' stages from the status store, which is kept even
with the UI disabled.
Spans live in memory until ``to_json`` writes them out; nothing is added to
the package itself.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "busy_s",
    "driver_gap_s",
    "jobs",
    "stages",
    "tasks",
    "one_task_stages",
    "task_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
)


@dataclass
class Stage:
    stage_id: int
    tasks: int
    start: float
    end: float
    cpu_s: float
    shuffle_bytes: int
    spill_bytes: int


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    values: dict[str, float] = field(default_factory=dict)
    group: str = ""  # the Spark job group of the span's jobs

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class SpanRecorder:
    """Records nested spans on one thread of one SparkContext."""

    _numbers = itertools.count()  # job groups stay unique across recorders

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._prefix = f"perfbench-{next(self._numbers)}-span-"

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1].span_id if self._stack else None)
        sp.group = f"{self._prefix}{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()
            self._collect(sp)

    def _collect(self, sp: Span) -> None:
        # the status store lags the jobs by the listener-bus queue: drain it
        # so the last stage is COMPLETE and all its tasks are counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        sp.job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(sp.group))
        for job_id in sp.job_ids:
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(i))
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its output came from an earlier job
                sp.stages.append(
                    Stage(
                        stage_id=int(st.stageId()),
                        tasks=int(st.numCompleteTasks()),
                        start=st.submissionTime().get().getTime() / 1000.0,
                        end=st.completionTime().get().getTime() / 1000.0,
                        cpu_s=st.executorCpuTime() / 1e9,
                        shuffle_bytes=int(st.shuffleWriteBytes()),
                        spill_bytes=int(st.diskBytesSpilled()),
                    )
                )

    def add_span(self, name: str, start: float, end: float, **values: float) -> Span:
        """Record a span around work timed by the caller (no Spark jobs)."""
        sp = Span(len(self.spans), name, None, start, end, values=dict(values))
        self.spans.append(sp)
        return sp

    def driver_time(self, sp: Span, start: float, end: float) -> float:
        """Time in [start, end] when no stage of ``sp`` (or its children) ran."""
        stages = {st.stage_id: st for s in self._subtree(sp) for st in s.stages}.values()
        inside = [(max(st.start, start), min(st.end, end)) for st in stages]
        return max(0.0, (end - start) - _union_length([iv for iv in inside if iv[1] > iv[0]]))

    def _subtree(self, sp: Span) -> list[Span]:
        out, frontier = [sp], [sp.span_id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out += kids
            frontier = [s.span_id for s in kids]
        return out

    def counters(self, sp: Span) -> dict[str, float]:
        """The span's counters, inclusive of the spans nested in it."""
        spans = self._subtree(sp)
        stages = {st.stage_id: st for s in spans for st in s.stages}.values()
        return {
            "busy_s": sp.wall,
            "driver_gap_s": self.driver_time(sp, sp.start, sp.end),
            "jobs": sum(len(s.job_ids) for s in spans),
            "stages": len(stages),
            "tasks": sum(st.tasks for st in stages),
            "one_task_stages": sum(1 for st in stages if st.tasks == 1),
            "task_cpu_s": sum(st.cpu_s for st in stages),
            "shuffle_bytes": sum(st.shuffle_bytes for st in stages),
            "spill_bytes": sum(st.spill_bytes for st in stages),
        }

    def by_layer(self) -> dict[str, dict[str, float]]:
        """Counters summed over every span of each name.  Spans of one name
        never nest inside each other, so the sums count no work twice."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            acc = out.setdefault(sp.name, dict.fromkeys(COUNTERS, 0.0))
            for k, v in self.counters(sp).items():
                acc[k] += v
            for k, v in sp.values.items():
                acc[k] = acc.get(k, 0.0) + v
        return out

    def to_json(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "counters": self.counters(s)} for s in self.spans],
                f,
                indent=1,
            )
