"""Spans around calls into the crocodile_spark layers, from outside them.

Each span is a Spark job group, so every job a call starts is tagged with
the span that caused it. Jobs, stages and tasks come from the
``statusTracker``; shuffle bytes and failed tasks come later from the event
log (see eventlog.py), keyed by the same group ids. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    rows_out: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0
    children: list = field(default_factory=list, repr=False)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)


class Tracer:
    """Records spans for one run. ``aux()`` tags the bookkeeping jobs the
    benchmark itself starts (row counts, checks) so no span is charged
    for them."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()

    def aux(self) -> None:
        self.sc.setJobGroup(f"{self.run_id}:aux", "benchmark bookkeeping")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            f"{self.run_id}:{len(self.spans)}",
            parent.span_id if parent else None,
            self.run_id,
            time.perf_counter(),
        )
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].span_id, self._stack[-1].name)
            else:
                self.aux()

    def collect_status(self, spans) -> None:
        """Fill jobs/stages/tasks of ``spans`` from the status tracker.
        Call soon after the spans end: the tracker keeps a bounded number
        of jobs. A stage reused by a later job is counted once, for the
        span that ran it first."""
        st = self.sc.statusTracker()
        for s in spans:
            job_ids = sorted(st.getJobIdsForGroup(s.span_id))
            stage_ids: set[int] = set()
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            new = stage_ids - self._seen_stages
            self._seen_stages |= stage_ids
            s.jobs = len(job_ids)
            s.stages = len(new)
            s.tasks = 0
            for sid in new:
                info = st.getStageInfo(sid)
                if info is not None:
                    s.tasks += info.numCompletedTasks

    def apply_event_log(self, by_group: dict) -> None:
        for s in self.spans:
            g = by_group.get(s.span_id)
            if g:
                s.shuffle_read_bytes = g["shuffle_read_bytes"]
                s.shuffle_write_bytes = g["shuffle_write_bytes"]
                s.failed_tasks = g["failed_tasks"]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                d = asdict(s)
                d.pop("children")
                d["wall_s"] = s.wall_s
                f.write(json.dumps(d) + "\n")


def subtree(span: Span) -> list[Span]:
    out = [span]
    for c in span.children:
        out.extend(subtree(c))
    return out
