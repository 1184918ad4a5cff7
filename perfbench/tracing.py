"""Spans around the benchmark's calls into the program, and the Spark jobs
each call ran.

A span is recorded for every wrapped call whether tracing is on or off —
its wall time is what the end-to-end metrics are made of. With tracing on,
the span also sets a Spark job group for the duration of the call and, when
the call returns, reads that group's jobs, their stages and task metrics
from the driver's status store (the store the Spark UI reads; it is kept
with the UI disabled). Each job becomes a child span, timed by the job's
submission and completion times.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    traced: bool = False
    jobs: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._requests = itertools.count(1)
        self._sc = None

    def attach(self, spark) -> None:
        """Start reading jobs from this session's status store."""
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        self._no_status = self._sc._jvm.java.util.ArrayList()

    def new_request(self) -> int:
        return next(self._requests)

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(next(self._ids), name, time.time(),
                  parent.sid if parent else None, request, attrs=attrs)
        traced = self.enabled and self._sc is not None
        if traced:
            sp.traced = True
            self._sc.setJobGroup(f"pb{sp.sid}", name, False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if traced:
                outer = next((s for s in reversed(self._stack) if s.traced), None)
                if outer is not None:
                    self._sc.setJobGroup(f"pb{outer.sid}", outer.name, False)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                self._read_jobs(sp)
                for s in self._stack:
                    if s.traced:
                        s.jobs += sp.jobs
                        s.task_cpu_s += sp.task_cpu_s
                        s.shuffle_write_bytes += sp.shuffle_write_bytes

    def _read_jobs(self, sp: Span) -> None:
        for job_id in self._sc.statusTracker().getJobIdsForGroup(f"pb{sp.sid}"):
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            start = sub.get().getTime() / 1000.0 if sub.isDefined() else sp.start
            end = done.get().getTime() / 1000.0 if done.isDefined() else sp.end
            child = Span(next(self._ids), "spark.job", start, sp.sid, sp.request, end=end)
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                stages = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                ).iterator()
                while stages.hasNext():
                    st = stages.next()
                    child.task_cpu_s += st.executorCpuTime() / 1e9
                    child.shuffle_write_bytes += int(st.shuffleWriteBytes())
            self.spans.append(child)
            sp.jobs += 1
            sp.task_cpu_s += child.task_cpu_s
            sp.shuffle_write_bytes += child.shuffle_write_bytes

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "request": s.request, "traced": s.traced, "jobs": s.jobs,
                "task_cpu_s": s.task_cpu_s,
                "shuffle_write_bytes": s.shuffle_write_bytes, **s.attrs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]

