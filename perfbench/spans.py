"""Spans around calls into the package, and Spark's job records per span.

A span covers one call into a layer (``<layer>.call``) or the action
that runs the lazy plan the call returned (``<layer>.result``).  While a
span is open its job group is set on the driver thread, so every job it
launches carries the group; jobs launched on other threads that set
their own group (a streaming query's micro-batches run under the
query's run id) are attributed to the innermost span open when they were
submitted.  Job and stage records come from Spark's status store
(``AppStatusStore``, the data behind the UI's REST API), read over
py4j after the span closes and the listener bus has drained.

The arithmetic (interval union, driver gap, first-job delay,
attribution, per-span roll-up) is plain Python over plain records so the
self-tests can check it without a Spark session.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

#: Twelve figures recorded per span type (``<layer>.<kind>_<metric>``).
SPAN_METRICS = (
    ("s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("driver_gap_s", "s"), ("first_job_delay_s", "s"), ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("core_util", "ratio"), ("failed_tasks", "count"),
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stage_ids: list[int]
    tasks: int = 0
    failed_tasks: int = 0
    done_tasks: int = 0  # tasks that ran to completion (skipped stages' tasks excluded)


@dataclass
class Stage:
    stage_id: int
    status: str
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0


@dataclass
class Span:
    name: str  # "<layer>.call" / "<layer>.result" / "session.start" ...
    start: float
    end: float
    request_id: str
    parent: str | None = None
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
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


def driver_gap(span: Span, jobs: list[Job]) -> float:
    """Span time not covered by any of its jobs: planning, driver-side
    collection and the gaps between successive jobs."""
    return span.seconds - union_length([(j.submit, j.end) for j in jobs], span.start, span.end)


def first_job_delay(span: Span, jobs: list[Job]) -> float:
    """Span start to the first job's submission (the whole span when it
    ran no job) — stands in for planning time."""
    if not jobs:
        return span.seconds
    return max(0.0, min(j.submit for j in jobs) - span.start)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Assign each job to one span (by index): to the span whose job
    group it carries, else to the innermost (latest-starting) span open
    at its submission.  Jobs matching no span are dropped."""
    by_group = {s.group: i for i, s in enumerate(spans) if s.group}
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for j in jobs:
        i = by_group.get(j.group)
        if i is None:
            open_ = [k for k, s in enumerate(spans) if s.start <= j.submit <= s.end]
            if not open_:
                continue
            i = max(open_, key=lambda k: spans[k].start)
        out[i].append(j)
    return out


def memo_problem(eager: bool, call_jobs: int, result_jobs: list[Job],
                 persisted: bool = False) -> str | None:
    """Why a request looks answered by a memo rather than computed (None:
    it did the work).  A call that runs its algorithm eagerly (``eager``)
    must launch a job inside the call: the noop write that consumes the
    result launches one even over a frame already in memory, so a call
    that returns a memoized frame shows only here.  A lazy call must
    return a frame that is not persisted, and the action that executes
    it must run at least one task (not skipped)."""
    if eager:
        return None if call_jobs else "call launched no Spark job"
    if persisted:
        return "call returned a persisted frame"
    if any(j.done_tasks for j in result_jobs):
        return None
    return "result action ran no task (no job, or only skipped stages)"


def rollup(span: Span, jobs: list[Job], stages: dict[int, Stage], cores: int) -> dict:
    """The twelve per-span figures of :data:`SPAN_METRICS`."""
    st = [stages[s] for j in jobs for s in j.stage_ids
          if s in stages and stages[s].status != "SKIPPED"]
    st = list({s.stage_id: s for s in st}.values())
    secs = span.seconds
    run_s = sum(s.run_s for s in st)
    return {
        "s": secs,
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(s.tasks for s in st),
        "driver_gap_s": driver_gap(span, jobs),
        "first_job_delay_s": first_job_delay(span, jobs),
        "shuffle_read_mb": sum(s.shuffle_read_mb for s in st),
        "shuffle_write_mb": sum(s.shuffle_write_mb for s in st),
        "executor_cpu_s": sum(s.cpu_s for s in st),
        "gc_s": sum(s.gc_s for s in st),
        "core_util": run_s / (secs * cores) if secs > 0 else 0.0,
        "failed_tasks": sum(s.failed_tasks for s in st),
    }


class StatusStore:
    """Reads job and stage records from the live session's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        self._mapper.registerModule(scala.getField("MODULE$").get(None))

    def jobs_submitted(self) -> int:
        """Jobs submitted to the scheduler so far (ids are sequential)."""
        return self._dag.numTotalJobs()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, first: int, last: int) -> list[Job]:
        """Records of jobs ``first``..``last - 1`` (still retained)."""
        out = []
        for jid in range(first, last):
            try:
                d = self._json(self._store.job(jid))
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                continue
            sub = d.get("submissionTime")
            end = d.get("completionTime") or sub
            out.append(Job(
                job_id=jid, group=d.get("jobGroup"),
                submit=(sub or 0) / 1000.0, end=(end or 0) / 1000.0,
                stage_ids=list(d.get("stageIds") or []),
                tasks=int(d.get("numTasks", 0)), failed_tasks=int(d.get("numFailedTasks", 0)),
                done_tasks=int(d.get("numCompletedTasks", 0)),
            ))
        return out

    def stages(self, ids) -> dict[int, Stage]:
        out = {}
        for sid in sorted(set(ids)):
            try:
                d = self._json(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # evicted past spark.ui.retainedStages
                continue
            out[sid] = Stage(
                stage_id=sid, status=str(d.get("status")),
                tasks=int(d.get("numCompleteTasks", 0)) + int(d.get("numFailedTasks", 0)),
                failed_tasks=int(d.get("numFailedTasks", 0)),
                run_s=d.get("executorRunTime", 0) / 1e3,
                cpu_s=d.get("executorCpuTime", 0) / 1e9,
                gc_s=d.get("jvmGcTime", 0) / 1e3,
                shuffle_read_mb=d.get("shuffleReadBytes", 0) / 2**20,
                shuffle_write_mb=d.get("shuffleWriteBytes", 0) / 2**20,
            )
        return out


def dump(path: str, spans: list[Span]) -> None:
    """Write the spans (with their per-span Spark figures) as JSON lines."""
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(asdict(s)) + "\n")
