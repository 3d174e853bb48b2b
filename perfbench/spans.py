"""Spans around calls into the package, plus Spark status-store readings.

``Tracer.wrap`` replaces a module attribute with a wrapper that records a
span (name, start, end, parent) around each call; nothing inside the
package changes. Spans live in memory and are written out at exit. Spark
stage and job data are read after the timed work from the status store
(it is filled even with the UI disabled) and attributed to spans by time,
so reading them costs nothing inside a timed region.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()  # each thread nests its own spans

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), name, stack[-1].id if stack else None, time.time())
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``, keeping the
        call's arguments and result on the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                s.attrs["args"] = args
                s.attrs["result"] = orig(*args, **kwargs)
                return s.attrs["result"]

        setattr(owner, attr, wrapper)

    def find(self, name: str, within: Span | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (within is None or (s.start >= within.start and s.end <= within.end))
        ]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.id)
        return span.dur - _union_len(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end}
                    for s in self.spans
                ],
                f,
                indent=1,
            )


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------- status store


def _seq(xs):
    """Iterate a Scala Seq returned through py4j."""
    return (xs.apply(i) for i in range(xs.size()))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class Stage:
    stage_id: int
    attempt: int
    start: float | None  # first task launch, epoch seconds
    end: float | None
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    job_id: int
    start: float | None
    end: float | None
    tasks: int
    failed_tasks: int


class StatusStore:
    """Completed stages and jobs of the live SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def stages(self) -> list[Stage]:
        out = []
        jvm = self.spark.sparkContext._jvm
        none = jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        for sd in _seq(self.store.stageList(none, False, False, no_quantiles, none)):
            out.append(Stage(
                stage_id=sd.stageId(), attempt=sd.attemptId(),
                start=_opt_ms(sd.firstTaskLaunchedTime()), end=_opt_ms(sd.completionTime()),
                tasks=sd.numCompleteTasks() + sd.numFailedTasks(), failed_tasks=sd.numFailedTasks(),
                run_s=sd.executorRunTime() / 1000.0, cpu_s=sd.executorCpuTime() / 1e9,
                gc_s=sd.jvmGcTime() / 1000.0, input_bytes=sd.inputBytes(),
                output_bytes=sd.outputBytes(), shuffle_read_bytes=sd.shuffleReadBytes(),
                shuffle_write_bytes=sd.shuffleWriteBytes(),
                spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            ))
        return out

    def jobs(self) -> list[Job]:
        out = []
        for jd in _seq(self.store.jobsList(None)):
            out.append(Job(
                job_id=jd.jobId(), start=_opt_ms(jd.submissionTime()),
                end=_opt_ms(jd.completionTime()),
                tasks=jd.numCompletedTasks() + jd.numFailedTasks(),
                failed_tasks=jd.numFailedTasks(),
            ))
        return out

    def task_skew(self, stage: Stage) -> float:
        """Largest ÷ median task run time of one stage."""
        jvm = self.spark.sparkContext._jvm
        q = self.spark.sparkContext._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage.stage_id, stage.attempt, q)
        if not summary.isDefined():
            return 1.0
        rt = summary.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0


def in_window(items, start: float, end: float):
    """Stages or jobs that started and ended inside [start, end]."""
    return [x for x in items if x.start is not None and x.end is not None
            and x.start >= start - 0.05 and x.end <= end + 0.05]


def engine_summary(stages: list[Stage], jobs: list[Job], start: float, end: float) -> dict:
    st = in_window(stages, start, end)
    jb = in_window(jobs, start, end)
    busy = _union_len([(s.start, s.end) for s in st])
    return {
        "spark.jobs": len(jb),
        "spark.tasks": sum(s.tasks for s in st),
        "spark.tasks_failed": sum(s.failed_tasks for s in st),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
        "spark.spill_bytes": sum(s.spill_bytes for s in st),
        "spark.gc_s": sum(s.gc_s for s in st),
        "spark.executor_run_s": sum(s.run_s for s in st),
        "spark.executor_cpu_s": sum(s.cpu_s for s in st),
        "spark.driver_only_s": max((end - start) - busy, 0.0),
    }

