"""Tracing for the benchmark's traced run.

Spans live in memory and are written as JSON lines when the run ends.
The tree is run -> pass -> query -> build/plan/execute; ``sources``
reads sit under the phase that made them, memo builds are zero-length
spans under ``build``, and the Spark jobs of each phase (taken from the
uncompressed event log after the session stops) hang under the phase
whose job group or time window holds them.  Every span carries the
run id.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; times are ``time.time()`` seconds so
    they line up with the event log's millisecond timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(len(self.spans), parent, name, start, end, attrs)
        self.spans.append(s)
        return s

    def index(self) -> dict[int, list[Span]]:
        """Children of every span, by parent id."""
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "id": s.id,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def job_group(run_id: str, span_id: int) -> str:
    return f"perfbench:{run_id}:{span_id}"


# --- Spark event log --------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float
    stages: dict = field(default_factory=dict)  # stage id -> stage dict


def read_event_log(path: str) -> list[Job]:
    """Jobs with their completed stages and per-stage task totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(
                    ev["Job ID"],
                    (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                )
                jobs[job.job_id] = job
                for sid in ev.get("Stage IDs", []):
                    # a stage runs in the first job that lists it; later
                    # jobs list it again only to skip it
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                if job is not None:
                    st = job.stages.setdefault(info["Stage ID"], _new_stage())
                    st["num_tasks"] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                st = job.stages.setdefault(ev["Stage ID"], _new_stage())
                st["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _new_stage() -> dict:
    return {
        "num_tasks": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "run_ms": 0,
        "gc_ms": 0,
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill": 0,
    }


def attach_jobs(tracer: Tracer, jobs: list[Job]) -> None:
    """Hang each job under the phase span that started it: by job group
    when the benchmark set one, otherwise (jobs on engine-owned threads,
    streaming micro-batches) by the phase whose window holds its
    submission time."""
    by_group = {
        job_group(tracer.run_id, s.id): s
        for s in tracer.spans
        if s.name in ("build", "plan", "execute")
    }
    windows = sorted(by_group.values(), key=lambda s: s.start)
    for job in jobs:
        owner = by_group.get(job.group)
        if owner is None:
            owner = next(
                (s for s in windows if s.start <= job.submitted <= s.end), None
            )
        if owner is None:
            continue
        tracer.add(
            "job",
            job.submitted,
            job.submitted,
            parent=owner.id,
            job_id=job.job_id,
            stages=list(job.stages.values()),
        )


# --- streaming progress -------------------------------------------------


def stream_listener_class():
    """A ``StreamingQueryListener`` subclass that keeps the durations and
    state-store sizes of every progress event (imported lazily so the
    module loads without pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            row = {
                "query": str(p.id),
                "ms": dict(p.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
            with self.lock:
                self.progress.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def drain(self, timeout: float = 10.0) -> list[dict]:
            """Wait until every started query has reported termination,
            then hand over and forget the progress seen so far."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        break
                time.sleep(0.02)
            with self.lock:
                out, self.progress = self.progress, []
            return out

    return ProgressRecorder
