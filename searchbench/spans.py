"""Spans and scheduler counts recorded from the benchmark's side of each
call into the program.

A span has a name (the layer: ``<module>.<function>``), start, end, parent
and request id.  When tracing is on, each span also runs under its own Spark
job group, set on the main thread, and on exit reads back the group's jobs,
stages, tasks and failed tasks through ``sparkContext.statusTracker()`` —
which works with the Spark UI disabled.  Jobs are credited to the innermost
open span, so the counts of a span are its self counts.

With tracing off, ``span`` records nothing and sets no job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    child_s: float = 0.0      # time covered by direct children
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Yield the open Span (or None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        # the session-start span opens before there is a context to count on
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._open[-1] if self._open else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        sp = Span(name, 0.0, parent=parent, request=request,
                  group=f"sb-{len(self.spans)}")
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        if sc is not None:
            sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if sc is None:
                return
            # jobs run under the group of the innermost open span, so the
            # parent's group (read when the parent closes) holds only the
            # parent's own jobs
            self._read_counts(sp)
            if parent is not None:
                self.spans[parent].child_s += sp.end - sp.start
                sc.setJobGroup(self.spans[parent].group,
                               self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _read_counts(self, sp: Span) -> None:
        st = self.spark.sparkContext.statusTracker()
        for jid in st.getJobIdsForGroup(sp.group):
            info = st.getJobInfo(jid)
            sp.jobs += 1
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                sp.stages += 1
                sp.tasks += stage.numTasks
                sp.tasks_failed += stage.numFailedTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([dict(asdict(s), self_s=s.self_s) for s in self.spans],
                      fh)


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """Per layer name: calls, self seconds, self jobs/stages/tasks/failed
    tasks, jobs and tasks including descendants, and summed extra
    counts."""
    incl = [[sp.jobs, sp.tasks] for sp in spans]
    for i in range(len(spans) - 1, -1, -1):   # children follow parents
        p = spans[i].parent
        if p is not None:
            incl[p][0] += incl[i][0]
            incl[p][1] += incl[i][1]
    out: dict[str, dict] = {}
    for sp, (ij, it) in zip(spans, incl):
        t = out.setdefault(sp.name, {"calls": 0, "self_s": 0.0, "jobs": 0,
                                     "stages": 0, "tasks": 0,
                                     "tasks_failed": 0, "incl_jobs": 0,
                                     "incl_tasks": 0, "counts": {}})
        t["calls"] += 1
        t["self_s"] += sp.self_s
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            t[k] += getattr(sp, k)
        t["incl_jobs"] += ij
        t["incl_tasks"] += it
        for k, v in sp.counts.items():
            t["counts"][k] = t["counts"].get(k, 0) + v
    return out
