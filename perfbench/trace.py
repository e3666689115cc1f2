"""Span recorder and Spark event-log reader for the traced benchmark run.

Spans are recorded by the benchmark itself, around the public library calls
it makes and around each pipeline phase (the phase boundaries arrive through
the ``ProgressReporter`` that ``run_pipeline`` accepts). Spark's own work is
read back from the event log the traced session writes
(``spark.eventLog.enabled=true``, uncompressed): every
``SparkListenerTaskEnd`` is attributed to the job group of its stage, which
``run_pipeline`` sets to the phase name. Work outside any phase group is
attributed by the time window of the call that issued it.

Everything is kept in memory and turned into one flat per-layer record when
the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = float(1 << 20)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class SpanRecorder:
    spans: list[Span] = field(default_factory=list)
    _open: dict[str, tuple[float, str | None]] = field(default_factory=dict)

    def begin(self, name: str, parent: str | None = None) -> None:
        self._open[name] = (time.time(), parent)

    def finish(self, name: str) -> Span:
        start, parent = self._open.pop(name)
        span = Span(name, start, time.time(), parent)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        self.begin(name, parent)
        try:
            yield
        finally:
            self.finish(name)

    def get(self, name: str) -> Span | None:
        for s in reversed(self.spans):
            if s.name == name:
                return s
        return None

    def children(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == name]

    def self_seconds(self, name: str) -> float:
        """Span duration minus the part of it its child spans cover."""
        span = self.get(name)
        return span.seconds - covered_seconds(
            [(c.start, c.end) for c in self.children(name)], span.start, span.end
        )

    def phase_subscriber(self, parent: str):
        """ProgressReporter callback: one child span of ``parent`` per
        pipeline phase, from its start event to its done/resumed event."""

        def on_event(event: dict) -> None:
            if event["status"] == "start":
                self.begin(event["phase"], parent)
            elif event["status"] in ("done", "resumed"):
                self.finish(event["phase"])

        return on_event


def covered_seconds(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Task:
    group: str | None
    launch: float  # epoch seconds
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    output_bytes: int


@dataclass
class Job:
    group: str | None
    submit: float
    end: float | None


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]

    def window(self, lo: float, hi: float) -> "EventLog":
        """Jobs submitted and tasks launched inside [lo, hi]."""
        return EventLog(
            [j for j in self.jobs if lo <= j.submit <= hi],
            [t for t in self.tasks if lo <= t.launch <= hi],
        )

    def group(self, name: str) -> "EventLog":
        return EventLog(
            [j for j in self.jobs if j.group == name],
            [t for t in self.tasks if t.group == name],
        )

    def job_intervals(self) -> list[tuple[float, float]]:
        return [(j.submit, j.end) for j in self.jobs if j.end is not None]

    def stats(self) -> dict[str, float]:
        """Executor-side totals of a set of tasks. ``py_gap_s`` is executor
        run time minus JVM CPU time: the time tasks spent waiting on the
        Python workers (and on I/O), which no JVM metric attributes."""
        tasks = self.tasks
        run_s = sum(t.run_s for t in tasks)
        cpu_s = sum(t.cpu_s for t in tasks)
        durations = [t.finish - t.launch for t in tasks]
        med = statistics.median(durations) if durations else 0.0
        return {
            "jobs": len(self.jobs),
            "tasks": len(tasks),
            "run_s": run_s,
            "cpu_s": cpu_s,
            "py_gap_s": run_s - cpu_s,
            "gc_s": sum(t.gc_s for t in tasks),
            "task_skew": max(durations) / med if med > 0 else 1.0,
            "shuffle_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
            "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
            "written_mb": sum(t.output_bytes for t in tasks) / MB,
        }


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            # rolling (v2) logs keep an empty appstatus_* marker beside the
            # events_* parts; v1 logs are one file named after the app
            if not name.startswith("appstatus") and not name.endswith(".crc"):
                out.append(os.path.join(root, name))
    return sorted(out)


def read_event_log(log_dir: str) -> EventLog:
    """Parse every uncompressed event-log file under ``log_dir``."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, Job] = {}
    raw_tasks: list[tuple[int, dict, dict]] = []
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a line cut by a still-running writer
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = Job(group, ev["Submission Time"] / 1e3, None)
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    raw_tasks.append(
                        (ev["Stage ID"], ev.get("Task Info") or {},
                         ev.get("Task Metrics") or {})
                    )
    tasks = []
    for sid, info, m in raw_tasks:
        shuffle_w = (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        tasks.append(
            Task(
                group=stage_group.get(sid),
                launch=info.get("Launch Time", 0) / 1e3,
                finish=info.get("Finish Time", 0) / 1e3,
                run_s=m.get("Executor Run Time", 0) / 1e3,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                shuffle_write_bytes=shuffle_w,
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
            )
        )
    return EventLog(list(jobs.values()), tasks)
