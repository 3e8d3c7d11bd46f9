"""Layer spans and the Spark work under them.

A span is one call into a public function of the package, timed from
the benchmark's side.  The Spark work under a span is attributed by
job-id interval: every job submitted between the span's start and end
belongs to it, whatever thread submitted it.  (Attributing by job group
misses the jobs a streaming query runs on its own thread: those carry
the query's group, not the caller's.)  Job and stage records come from
the SparkContext's status store, which Spark keeps with the UI off.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from cputime import work_cpu_s

_BATCH_RE = re.compile(r"batch = (\d+)")

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "between_jobs_ms",
    "shuffle_bytes",
    "spill_bytes",
)


def between_jobs_ms(t0_ms: float, t1_ms: float, intervals) -> float:
    """Wall time of [t0_ms, t1_ms] not covered by any job interval."""
    covered = 0.0
    end = t0_ms
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, t1_ms)
        if e > s:
            covered += e - s
            end = e
    return max(0.0, (t1_ms - t0_ms) - covered)


@dataclass
class Span:
    name: str
    kind: str
    t0: float  # epoch seconds, comparable with the JVM's job timestamps
    t1: float
    job_lo: int
    job_hi: int
    spark: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the process tree less JIT (whole ops only)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class SparkWork:
    """Reads job ids and job/stage records of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def job_count(self) -> int:
        """Jobs submitted so far; the next job gets this id."""
        return self._sc.dagScheduler().numTotalJobs()

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def attribute(self, span: Span) -> dict:
        """Spark work of the jobs with ids in [span.job_lo, span.job_hi)."""
        store = self._sc.statusStore()
        t0_ms, t1_ms = span.t0 * 1000.0, span.t1 * 1000.0
        intervals, stage_ids, batches = [], set(), set()
        jobs = 0
        for jid in range(span.job_lo, span.job_hi):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # no record kept for this id
                continue
            jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            intervals.append(
                (
                    sub.get().getTime() if sub.isDefined() else t0_ms,
                    done.get().getTime() if done.isDefined() else t1_ms,
                )
            )
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
            desc = job.description()
            if desc.isDefined():
                batches.update(_BATCH_RE.findall(desc.get()))
        out = dict.fromkeys(SPARK_FIELDS, 0)
        out["jobs"] = jobs
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["between_jobs_ms"] = between_jobs_ms(t0_ms, t1_ms, intervals)
        out["micro_batches"] = len(batches)
        return out


class Recorder:
    """Times operations and, when tracing, the layer calls inside them.

    ``op`` always times the whole operation, in wall and CPU time (the
    end-to-end sample).
    ``call`` is a no-op unless tracing; then it records a span whose
    Spark work ``resolve`` fills in after the operation, outside its
    timed window.
    """

    def __init__(self, work: SparkWork | None):
        self.work = work
        self.pending: list[Span] = []
        self.spans: list[Span] = []

    def _open(self) -> tuple[float, int]:
        return time.time(), (self.work.job_count() if self.work else 0)

    def _close(self, name: str, kind: str, t0: float, lo: int) -> Span:
        hi = self.work.job_count() if self.work else 0
        span = Span(name, kind, t0, time.time(), lo, hi)
        if self.work:
            self.pending.append(span)
        return span

    @contextmanager
    def op(self, kind: str):
        """Yields a one-element list that receives the op's Span."""
        holder: list[Span] = []
        cpu0 = work_cpu_s()
        t0, lo = self._open()
        try:
            yield holder
        finally:
            span = self._close("op", kind, t0, lo)
            span.cpu_s = work_cpu_s() - cpu0
            holder.append(span)

    @contextmanager
    def call(self, name: str, kind: str):
        if not self.work:
            yield
            return
        t0, lo = self._open()
        try:
            yield
        finally:
            self._close(name, kind, t0, lo)

    def resolve(self) -> None:
        """Attribute Spark work to every span recorded since the last call."""
        if not self.work or not self.pending:
            return
        self.work.settle()
        for span in self.pending:
            span.spark = self.work.attribute(span)
        self.spans.extend(self.pending)
        self.pending = []
