"""Spans and Spark job accounting for the traced benchmark run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a module or class attribute of the engine with a wrapper that
opens a span around each call, and :meth:`Tracer.restore` puts the
originals back. The engine's files are not touched.

Spark work is read from the status store by job-id window. Every job
submitted between two watermarks belongs to the operation in between,
whichever thread submitted it. That includes the commit pool threads,
which do not inherit the driver thread's job group.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened on a
    thread with no open span (a commit pool thread, say) is parented to
    the span of the current operation."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._op: str | None = None
        self._op_span: int | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        t0 = self.clock()
        st = self._stack()
        parent = st[-1] if st else self._op_span
        sp = Span(next(self._ids), name, 0.0, None, parent,
                  op if op is not None else self._op)
        with self._lock:
            self.spans.append(sp)
        if op is not None:
            prev_op, prev_span = self._op, self._op_span
            self._op, self._op_span = op, sp.id
        st.append(sp.id)
        self.overhead_s += self.clock() - t0
        sp.start = self.clock()
        try:
            yield sp
        finally:
            sp.end = self.clock()
            st.pop()
            if op is not None:
                self._op, self._op_span = prev_op, prev_span

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def to_json(self) -> list[dict]:
        st = self.self_times()
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, "self_s": st[s.id]}
                for s in self.spans]


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.
    Children on other threads may overlap; their union is subtracted."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        out[s.id] = (end - s.start) - _covered(kids.get(s.id, []), s.start,
                                               end)
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

TRACED_SPARK_CONF = {
    # the status store evicts jobs and stages past these counts; a crawl
    # round submits a few hundred of each
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000",
}


@dataclass
class JobStats:
    job_id: int
    submitted_ms: int
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


class SparkWindow:
    """Jobs and their stage metrics, read by job-id window."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self.watermark = self._max_job_id()

    def _max_job_id(self) -> int:
        return max((int(j.jobId()) for j in _seq(self._store.jobsList(None))),
                   default=-1)

    def collect(self) -> tuple[list[JobStats], int]:
        """Jobs submitted since the last call, and the number of job ids
        missing from that window (evicted jobs)."""
        from py4j.protocol import Py4JJavaError

        jobs = [j for j in _seq(self._store.jobsList(None))
                if int(j.jobId()) > self.watermark]
        if not jobs:
            return [], 0
        out = []
        stage_ids: dict[int, list[int]] = {}
        for j in jobs:
            sub = j.submissionTime()
            js = JobStats(int(j.jobId()),
                          int(sub.get().getTime()) if sub.isDefined() else 0)
            stage_ids[js.job_id] = [int(s) for s in _seq(j.stageIds())]
            out.append(js)
        stages = {}
        for sid in {s for ids in stage_ids.values() for s in ids}:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted, or never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            stages[sid] = (int(st.numTasks()),
                           st.executorRunTime() / 1e3,
                           st.executorCpuTime() / 1e9,
                           int(st.shuffleReadBytes()),
                           int(st.shuffleWriteBytes()),
                           int(st.memoryBytesSpilled())
                           + int(st.diskBytesSpilled()))
        for js in out:
            for sid in stage_ids[js.job_id]:
                m = stages.get(sid)
                if m is None:
                    continue
                js.stages += 1
                js.tasks += m[0]
                js.run_s += m[1]
                js.cpu_s += m[2]
                js.shuffle_read += m[3]
                js.shuffle_write += m[4]
                js.spill += m[5]
        ids = sorted(js.job_id for js in out)
        gaps = (ids[-1] - self.watermark) - len(ids)
        self.watermark = ids[-1]
        out.sort(key=lambda js: js.job_id)
        return out, gaps


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def totals(jobs: list[JobStats]) -> dict[str, float]:
    return {"jobs": len(jobs),
            "stages": sum(j.stages for j in jobs),
            "tasks": sum(j.tasks for j in jobs),
            "executor_run_s": sum(j.run_s for j in jobs),
            "executor_cpu_s": sum(j.cpu_s for j in jobs),
            "shuffle_read_bytes": sum(j.shuffle_read for j in jobs),
            "shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
            "spill_bytes": sum(j.spill for j in jobs)}


def bucket(jobs: list[JobStats], t0_ms: float,
           stages: list[tuple[str, float]]) -> dict[str, list[JobStats]]:
    """Assign jobs to consecutive stages by submission time. ``stages`` is
    ``[(name, seconds), ...]`` in order, starting at ``t0_ms``; a job
    submitted after the last boundary goes to the last stage."""
    bounds, t = [], t0_ms
    for name, sec in stages:
        t += sec * 1e3
        bounds.append((name, t))
    out = {name: [] for name, _ in stages}
    for j in jobs:
        for name, hi in bounds:
            if j.submitted_ms <= hi:
                out[name].append(j)
                break
        else:
            out[bounds[-1][0]].append(j)
    return out
