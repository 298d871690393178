"""Spans around the benchmark's calls into each layer, and the Spark jobs
each call caused.

A span tags every job submitted inside it with its own Spark job group and
reads the group back through the status tracker when it closes. Spans nest:
the inner span's group replaces the outer one while it is open, so each job
belongs to exactly one span. Spans live in memory until :meth:`Tracer.dump`.

Interval arithmetic (self time, driver gap) lives in plain functions so it
can be tested without Spark.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import time
from contextlib import contextmanager


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
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


@dataclasses.dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: int
    exec_run_s: float
    shuffle_bytes: int


@dataclasses.dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float  # epoch seconds
    end: float
    jobs: list  # Job records tagged with this span's own group
    job_range: tuple  # (first, last) job id submitted while open, exclusive

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, children) -> float:
    """Span duration minus the part of it its child spans cover."""
    return span.wall - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def driver_gap(span: Span, jobs) -> float:
    """Span duration minus the union of its jobs' run intervals: time in
    which no job of the call was running (planning, driver I/O, py4j)."""
    return span.wall - union_length(
        [(j.start, j.end) for j in jobs], span.start, span.end
    )


class Tracer:
    """Records spans when ``enabled``; otherwise :meth:`span` costs one
    generator frame and records nothing."""

    def __init__(self, spark, run_id: str, enabled: bool = True):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[tuple[int, str]] = []
        self._ids = itertools.count(1)

    def next_job_id(self) -> int:
        """Id the next Spark job will get; differences count jobs."""
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}-{span_id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = next(self._ids)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((span_id, name))
        first_job = self.next_job_id()
        self._sc.setJobGroup(self._group(span_id), name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            last_job = self.next_job_id()
            self._stack.pop()
            if self._stack:
                outer_id, outer_name = self._stack[-1]
                self._sc.setJobGroup(self._group(outer_id), outer_name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            jobs = [
                self._job(j)
                for j in sorted(
                    self._sc.statusTracker().getJobIdsForGroup(self._group(span_id))
                )
            ]
            self.spans.append(
                Span(name, span_id, parent, self.run_id, start, end, jobs,
                     (first_job, last_job))
            )

    def _job(self, job_id: int) -> Job:
        store = self._sc._jsc.sc().statusStore()
        data = store.job(job_id)
        start = data.submissionTime().get().getTime() / 1000.0
        done = data.completionTime()
        end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
        info = self._sc.statusTracker().getJobInfo(job_id)
        stages, run_ms, shuffle = 0, 0, 0
        for sid in info.stageIds if info else ():
            try:
                stage = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            stages += 1
            run_ms += stage.executorRunTime()
            shuffle += stage.shuffleWriteBytes()
        return Job(job_id, start, end, stages, run_ms / 1000.0, shuffle)

    # ------------------------------------------------------------ analysis
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def subtree_jobs(self, span: Span) -> list[Job]:
        jobs = list(span.jobs)
        for child in self.children(span):
            jobs.extend(self.subtree_jobs(child))
        return jobs

    def unattributed_jobs(self) -> int:
        """Jobs submitted while a top-level span was open that no span of
        its subtree claims — the cross-check against the job-id range."""
        missing = 0
        for span in self.spans:
            if span.parent is None:
                claimed = {j.job_id for j in self.subtree_jobs(span)}
                missing += len(set(range(*span.job_range)) - claimed)
        return missing

    def dump(self, path: str) -> None:
        with open(path, "w") as out:
            for span in self.spans:
                rec = dataclasses.asdict(span)
                rec["jobs"] = [dataclasses.asdict(j) for j in span.jobs]
                out.write(json.dumps(rec) + "\n")
