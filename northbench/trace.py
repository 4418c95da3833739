"""Spans around the benchmark's calls into the engine's public functions.

A span records name, start, end, parent and run id. Each span runs its
Spark jobs under a job group of its own, so the job, stage and task counts
it caused are read back from ``SparkContext.statusTracker()`` when it ends.
Spans stay in memory until ``write``. ``Tracer(False, ...)`` is the
untraced mode: ``span`` does nothing but yield. Set ``sc`` once a session
exists; spans opened before that record times only.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # time spent reading the status tracker, outside every span's end
        self.bookkeeping_s = 0.0

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-{span.span_id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, len(self.spans), parent and parent.span_id, time.monotonic())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(self._group(parent), parent.name)
                self._count(sp)
                self.bookkeeping_s += time.monotonic() - sp.end

    def _count(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(self._group(sp)):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                sp.jobs += 1
                stage_ids.update(info.stageIds)
        for stage_id in stage_ids:
            info = tracker.getStageInfo(stage_id)
            if info is not None and info.numCompletedTasks > 0:  # skipped stages ran nothing
                sp.stages += 1
                sp.tasks += info.numCompletedTasks

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: seconds, self seconds, and the jobs, stages and
        tasks its subtree caused. Self time is the span's time minus the
        time its child spans cover (children run one after another)."""
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + sp.seconds
        subtree = {sp.span_id: [sp.jobs, sp.stages, sp.tasks] for sp in self.spans}
        for sp in reversed(self.spans):  # children come after their parent
            if sp.parent is not None:
                for i, v in enumerate(subtree[sp.span_id]):
                    subtree[sp.parent][i] += v
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            t = out.setdefault(
                sp.name, {"s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0, "calls": 0}
            )
            jobs, stages, tasks = subtree[sp.span_id]
            t["s"] += sp.seconds
            t["self_s"] += sp.seconds - child_s.get(sp.span_id, 0.0)
            t["jobs"] += jobs
            t["stages"] += stages
            t["tasks"] += tasks
            t["calls"] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")
