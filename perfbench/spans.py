"""Spans recorded by the benchmark, and Spark's event log read back.

A traced run records one span per op and one per call into an engine
layer (build/exec, or ingest/upsert/archive). Spans stay in memory and are
written out when the run ends. Spark jobs are not spans the benchmark can
open itself: they come from Spark's own JSON event log
(``spark.eventLog.compress=false``), which is read back after the session
stops and matched to spans by time window. Only one client runs, so only
one op is open at a time and a job belongs to the innermost span whose
window holds the job's submission time. The same log carries every
``StreamingQueryListener`` progress event, which is where the streaming
numbers come from.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    kind: str              # "op", a layer name ("build", "exec", ...), or "job"
    start: float           # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so the
    untraced run pays one no-op context manager per layer call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, kind, time.time(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``
    (each clipped to the window first; overlaps count once)."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
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


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in children]
    )


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------
@dataclass
class Job:
    id: int
    start: float           # epoch seconds (submission)
    end: float             # epoch seconds (completion)
    stage_ids: list[int]
    stages: int = 0        # stages that ran (skipped stages excluded)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class StreamProgress:
    time: float            # epoch seconds of the progress event's batch
    batch_s: float         # triggerExecution duration
    state_rows: int
    state_mem_bytes: int


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of ``app_id`` in Spark 4's rolling layout
    (``eventlog_v2_<app>/events_<n>_<app>``), in index order."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_event_log(paths: list[str]) -> tuple[list[Job], list[StreamProgress]]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    progress: list[StreamProgress] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(e["Job ID"], e["Submission Time"] / 1000.0, 0.0, e["Stage IDs"])
                    jobs[job.id] = job
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(e["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid is None:
                        continue
                    job = jobs[jid]
                    job.tasks += 1
                    if e["Task End Reason"]["Reason"] != "Success":
                        job.failed_tasks += 1
                    m = e.get("Task Metrics") or {}
                    job.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                    job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    ops = p.get("stateOperators") or []
                    progress.append(StreamProgress(
                        _iso_epoch(p["timestamp"]),
                        p["durationMs"].get("triggerExecution", 0) / 1000.0,
                        sum(o.get("numRowsTotal", 0) for o in ops),
                        sum(o.get("memoryUsedBytes", 0) for o in ops),
                    ))
    return sorted(jobs.values(), key=lambda j: j.start), progress


def attach_jobs(tracer: Tracer, jobs: list[Job]) -> None:
    """Add each job as a ``job`` span under the innermost open-at-submission
    span. Jobs submitted outside every span (set-up, correctness checks)
    are left out. A job that outlives its parent is clipped to it."""
    spans = sorted(tracer.spans, key=lambda s: s.start)
    for job in jobs:
        owner = None
        for s in spans:
            if s.kind == "job" or s.start > job.start:
                continue
            if s.end >= job.start and (owner is None or s.start >= owner.start):
                owner = s
        if owner is None:
            continue
        end = min(job.end if job.end else owner.end, owner.end)
        tracer.spans.append(Span(
            len(tracer.spans), f"job{job.id}", "job", job.start, end,
            parent=owner.id, attrs=asdict(job),
        ))
