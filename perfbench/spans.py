"""Spans around public calls, with Spark's own counters for their jobs.

A :class:`Recorder` always times spans (name, start, end, parent).  With
tracing on, each span also becomes a Spark job group, and
:meth:`Recorder.collect` reads every group's jobs and stages back from the
status tracker and the status store, which work with the UI disabled.
Counters are read after the timed calls, so the only cost inside a timed
span is setting the job group, and that cost is itself timed.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "executor_cpu_s", "executor_run_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
            "output_mb")
_MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    index: int = -1
    end: float = 0.0
    error: str | None = None
    jobs: list[tuple[int, float, float]] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Recorder:
    def __init__(self, spark, run_id: str, traced: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0      # time spent setting job groups in spans
        self._collected = 0

    def _set_group(self, idx: int | None) -> None:
        t = time.perf_counter()
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}/{idx}", self.spans[idx].name)
        self.overhead_s += time.perf_counter() - t

    def span(self, name: str):
        return _SpanCtx(self, name)

    # -- reading Spark's counters -------------------------------------------
    def collect(self) -> None:
        """Attach jobs and stage counters to the spans recorded since the
        last call.  Call between timed regions; the status store keeps a
        bounded number of jobs, so call it often enough."""
        if not self.traced:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for idx in range(self._collected, len(self.spans)):
            span = self.spans[idx]
            c = dict.fromkeys(COUNTERS, 0.0)
            for jid in tracker.getJobIdsForGroup(f"{self.run_id}/{idx}"):
                info = tracker.getJobInfo(jid)
                try:
                    job = store.job(jid)
                    sub = job.submissionTime()
                    done = job.completionTime()
                    t0 = sub.get().getTime() / 1e3 if sub.isDefined() else span.start
                    t1 = done.get().getTime() / 1e3 if done.isDefined() else span.end
                except Py4JJavaError:  # job evicted from the status store
                    t0, t1 = span.start, span.end
                span.jobs.append((jid, t0, t1))
                c["jobs"] += 1
                for sid in (info.stageIds if info is not None else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # skipped stage: its shuffle output was reused
                    c["tasks"] += st.numTasks()
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["shuffle_read_mb"] += (st.shuffleRemoteBytesRead()
                                             + st.shuffleLocalBytesRead()) / _MB
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                    c["spill_mb"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled()) / _MB
                    c["input_mb"] += st.inputBytes() / _MB
                    c["output_mb"] += st.outputBytes() / _MB
            span.counters = c
        self._collected = len(self.spans)

    # -- derived views -------------------------------------------------------
    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo += self.children(i)
        return out

    def totals(self, idx: int) -> dict[str, float]:
        """Counters of a span including its descendants, plus driver_s:
        the span's wall time not covered by any of its jobs."""
        span = self.spans[idx]
        tot = dict.fromkeys(COUNTERS, 0.0)
        jobs: list[tuple[float, float]] = []
        for i in self.subtree(idx):
            for k, v in self.spans[i].counters.items():
                tot[k] += v
            jobs += [(t0, t1) for _, t0, t1 in self.spans[i].jobs]
        tot["driver_s"] = span.wall - _union(jobs, span.start, span.end)
        return tot

    def self_time(self, idx: int) -> float:
        span = self.spans[idx]
        kids = [(self.spans[i].start, self.spans[i].end)
                for i in self.children(idx)]
        return span.wall - _union(kids, span.start, span.end)

    def records(self) -> list[dict]:
        return [{"run": self.run_id, "id": i, "parent": s.parent,
                 "name": s.name, "start": s.start, "end": s.end,
                 "self_s": self.self_time(i), "error": s.error,
                 "jobs": [j for j, _, _ in s.jobs],
                 **({"totals": self.totals(i)} if self.traced else {})}
                for i, s in enumerate(self.spans)]


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str):
        self.rec = rec
        self.name = name

    def __enter__(self) -> Span:
        rec = self.rec
        parent = rec._stack[-1] if rec._stack else None
        span = Span(self.name, time.time(), parent, len(rec.spans))
        rec.spans.append(span)
        rec._stack.append(span.index)
        if rec.traced:
            rec._set_group(span.index)
        span.start = time.time()
        self.span = span
        return span

    def __exit__(self, exc_type, exc, tb) -> bool:
        rec = self.rec
        span = self.span
        span.end = time.time()
        if exc is not None:
            span.error = f"{exc_type.__name__}: {exc}"[:300]
        rec._stack.pop()
        if rec.traced:
            rec._set_group(rec._stack[-1] if rec._stack else None)
        return False
