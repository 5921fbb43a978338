"""Spans around the benchmark's calls into the engine, and Spark's own job
and stage counters for each span.

A span is (name, start, end, parent, request id). Leaf spans that call the
engine run under their own Spark job group, so after the run the jobs of
every span can be looked up in Spark's status store, which is populated
even with ``spark.ui.enabled=false``. Spans are kept in memory and written
out once, at the end.

``NullTracer`` has the same interface and only measures wall time: the
untraced runs use it, so the timed code path is the same in both modes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    return {
        sp.id: sp.wall
        - interval_union(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children.get(sp.id, [])
            if c.end > sp.start and c.start < sp.end
        )
        for sp in spans
    }


class NullTracer:
    """Wall time only: no job groups, no spans kept."""

    enabled = False

    def attach(self, spark) -> None:
        pass

    @contextmanager
    def span(self, name, request=None, jobs=False, **attrs):
        sp = Span(0, name, None, request, time.perf_counter(), attrs=attrs)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()


class SparkTracer:
    """Keeps spans; gives every ``jobs=True`` span its own Spark job group.

    ``own_s`` accumulates the time spent inside the tracer's hooks while a
    span is open (job-group set/clear and bookkeeping) — the part of a
    traced span's wall that an untraced run does not pay.
    """

    enabled = True

    def __init__(self):
        self.sc = None  # set by attach() once the session is up
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.own_s = 0.0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name, request=None, jobs=False, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.id if parent else None,
            request if request is not None else (parent.request if parent else None),
            t0, attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if jobs:
            sp.group = f"perfbench-{sp.id}"
            self.sc.setJobGroup(sp.group, name, False)
        self.own_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            if jobs:
                self.sc._jsc.clearJobGroup()
            self._stack.pop()
            sp.end = time.perf_counter()
            self.own_s += sp.end - t1

    # -- Spark's status store ---------------------------------------------

    def job_counters(self) -> dict[str, dict]:
        """Per job group: jobs, tasks, job time (union of the jobs'
        submit..complete intervals), and the stage counters summed over the
        distinct stages those jobs ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_group: dict[str, dict] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if not job.jobGroup().isDefined():
                continue
            group = job.jobGroup().get()
            if not group.startswith("perfbench-"):
                continue
            g = by_group.setdefault(
                group, {"jobs": 0, "tasks": 0, "intervals": [], "stages": set()}
            )
            g["jobs"] += 1
            g["tasks"] += job.numTasks() - job.numSkippedTasks()
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                g["intervals"].append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            ids = job.stageIds()
            g["stages"].update(ids.apply(k) for k in range(ids.size()))
        out = {}
        for group, g in by_group.items():
            c = {
                "jobs": g["jobs"],
                "tasks": g["tasks"],
                "job_s": interval_union(g["intervals"]),
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "input_bytes": 0,
                "output_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in g["stages"]:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped)
                    continue
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_bytes"] += st.inputBytes()
                c["output_bytes"] += st.outputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out[group] = c
        return out

    def write(self, path: str, counters: dict[str, dict]) -> None:
        selfs = self_times(self.spans)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for sp in self.spans:
                rec = {
                    "id": sp.id,
                    "name": sp.name,
                    "parent": sp.parent,
                    "request": sp.request,
                    "start_s": sp.start - t0,
                    "end_s": sp.end - t0,
                    "wall_s": sp.wall,
                    "self_s": selfs[sp.id],
                    **sp.attrs,
                }
                if sp.group:
                    rec["spark"] = counters.get(sp.group, {"jobs": 0})
                f.write(json.dumps(rec) + "\n")
