"""Spans around the benchmark's calls into the program, and the Spark stage
metrics each span caused.

A span is (name, start, end, parent). With tracing on, every span also
tags the Spark jobs it submits with a job group of its own; when the span
ends, the stages of those jobs are read from the SparkContext's status
store (readable with ``spark.ui.enabled=false``) and summed onto the span.
With tracing off, ``span`` only runs the body: no job groups, no reads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class StageTotals:
    """Stage metrics summed over every stage a set of jobs ran."""

    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    # task run time (ms) quantiles of the stage with the most run time
    heaviest_task_ms_med: float = 0.0
    heaviest_task_ms_max: float = 0.0

    @property
    def task_ms_max_med(self) -> float:
        if self.heaviest_task_ms_med <= 0:
            return 0.0
        return self.heaviest_task_ms_max / self.heaviest_task_ms_med


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    stages: StageTotals | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def stage_totals(sc, group: str) -> StageTotals:
    """Sum the status-store stage data of every job in ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    tracker = sc.statusTracker()
    out = StageTotals()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    heaviest = -1
    for sid in sorted(stage_ids):
        attempts = _seq(store.stageData(sid, False, jvm.java.util.ArrayList(), True, quantiles))
        for sd in attempts:
            out.tasks += sd.numCompleteTasks()
            run_ms = sd.executorRunTime()
            out.executor_run_ms += run_ms
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.shuffle_read_bytes += sd.shuffleReadBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            dist = sd.taskMetricsDistributions()
            if run_ms > heaviest and dist.isDefined():
                heaviest = run_ms
                med, mx = _seq(dist.get().executorRunTime())
                out.heaviest_task_ms_med, out.heaviest_task_ms_max = med, mx
    return out


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time the body as one span. ``group`` names a job group the body
        sets itself (``run_extraction_job`` tags its jobs with its run id);
        otherwise the span tags the body's jobs with a group of its own."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        own_group = group is None
        sp.group = f"perfbench-{sid}" if own_group else group
        prior = self.sc.getLocalProperty(_GROUP_KEY)
        if own_group:
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if own_group:
                self.sc.setLocalProperty(_GROUP_KEY, prior)
            sp.stages = stage_totals(self.sc, sp.group)

    def self_seconds(self, sid: int) -> float:
        """Span duration minus the part its direct children cover."""
        sp = self.spans[sid]
        child = sum(c.seconds for c in self.spans if c.parent == sid)
        return sp.seconds - child

    def dump(self) -> list[dict]:
        out = []
        for i, sp in enumerate(self.spans):
            st = sp.stages or StageTotals()
            out.append(
                {
                    "id": i,
                    "name": sp.name,
                    "parent": sp.parent,
                    "start": round(sp.start, 6),
                    "end": round(sp.end, 6),
                    "self_s": round(self.self_seconds(i), 6),
                    "jobs": st.jobs,
                    "tasks": st.tasks,
                    "shuffle_write_bytes": st.shuffle_write_bytes,
                    "spill_bytes": st.spill_bytes,
                }
            )
        return out
