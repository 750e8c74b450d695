"""Spans around the benchmark's calls into the program.

Every span records its name, parent, start and end. With tracing on, the
span's id is also the Spark job group while it is open, so the jobs the
call launched become its children:

- job, stage and task counts come from ``SparkContext.statusTracker()``
  right after the span closes;
- task time, shuffle, spill, input records and bytes written come from
  Spark's event log, parsed once the session has stopped
  (:func:`event_log_conf` gives the launch flags that enable it).

Spans stay in memory and are written out by the caller at the end. With
tracing off a span records wall time only, so untraced runs pay nothing.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def event_log_conf(log_dir: str) -> list[str]:
    """``spark-submit`` flags that write one uncompressed event-log file
    per application into ``log_dir``."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    job_ids: list[int] = field(default_factory=list)  # own and children's
    stages: int = 0
    tasks: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # set once the session exists

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{len(self.spans)}", name, parent.id if parent else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        traced = self.enabled and self.sc is not None
        if traced:
            self.sc.setJobGroup(s.id, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if traced:
                self._collect_jobs(s)
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, span: Span) -> set[str]:
        """Ids of ``span`` and every span opened inside it."""
        ids = {span.id}
        for s in self.spans:  # appended in start order: parents first
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def _collect_jobs(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        own = list(tracker.getJobIdsForGroup(s.id))
        for child in self.spans:
            if child.parent == s.id:
                own.extend(child.job_ids)
        s.job_ids = sorted(set(own))
        stage_ids = set()  # a stage a later job reuses appears in both jobs
        for jid in s.job_ids:
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else [])
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:  # skipped stages ran nothing
                s.stages += 1
                s.tasks += st.numCompletedTasks


@dataclass
class JobStats:
    group: str | None
    call_site: str | None = None
    submitted: float = 0.0  # epoch seconds
    completed: float = 0.0
    stages: set = field(default_factory=set)


@dataclass
class StageStats:
    group: str | None = None  # job group of the job that ran the stage
    task_busy_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    bytes_written: int = 0
    json_scans: int = 0  # file scans of JSON input in the stage's RDDs


class EventLog:
    """Per-job and per-stage totals from the event log of the run's one
    application, the only file in ``log_dir``."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, JobStats] = {}
        self.stages: dict[int, StageStats] = {}
        (path,) = glob.glob(os.path.join(log_dir, "*"))  # one application
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = JobStats(
                props.get("spark.jobGroup.id"),
                props.get("callSite.short"),
                submitted=e["Submission Time"] / 1000,
                stages={s["Stage ID"] for s in e["Stage Infos"]},
            )
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].completed = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            st = self.stages.setdefault(e["Stage Info"]["Stage ID"], StageStats())
            st.group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            scopes = {r.get("Scope") or "" for r in e["Stage Info"]["RDD Info"]}
            st.json_scans = sum('"name":"Scan json' in sc for sc in scopes)
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], StageStats())
            m = e.get("Task Metrics") or {}
            st.task_busy_s += m.get("Executor Run Time", 0) / 1000
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
            st.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    def totals(self, span: Span, groups: set[str], json_rows: int = 0) -> dict:
        """Execution totals of the jobs and stages run under ``groups``
        (a span's id and its descendants'). ``json_rows`` is the row count
        of the JSON input the span reads; its scans are taken out of
        ``state_rows_scanned``."""
        jobs = [j for j in self.jobs.values() if j.group in groups]
        ss = [s for s in self.stages.values() if s.group in groups]
        covered = _covered(
            [(max(j.submitted, span.start), min(j.completed, span.end)) for j in jobs]
        )
        return {
            "task_busy_s": sum(s.task_busy_s for s in ss),
            "shuffle_bytes": sum(s.shuffle_bytes for s in ss),
            "spill_bytes": sum(s.spill_bytes for s in ss),
            "input_records": sum(s.input_records for s in ss),
            "state_rows_scanned": sum(
                max(0, s.input_records - s.json_scans * json_rows) for s in ss
            ),
            "bytes_written": sum(s.bytes_written for s in ss),
            # one-stage jobs no user call launched (file listing and the like)
            "side_jobs": sum(len(j.stages) == 1 and j.call_site is None for j in jobs),
            "driver_s": max(0.0, span.wall_s - covered),
        }


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def dump(path: str, tracer: Tracer, log: EventLog, extra: dict) -> None:
    """Write the spans, each with the Spark jobs run under its own job
    group as child spans, and ``extra``."""
    def job(jid: int, j: JobStats) -> dict:
        ran = [log.stages[s] for s in j.stages if s in log.stages]
        return {
            "job": jid, "start": j.submitted, "end": j.completed,
            "call_site": j.call_site, "stages": len(ran),
            "task_busy_s": sum(s.task_busy_s for s in ran),
        }

    with open(path, "w") as f:
        json.dump(
            {
                "spans": [
                    {
                        "id": s.id, "name": s.name, "parent": s.parent,
                        "start": s.start, "end": s.end, "wall_s": s.wall_s,
                        "jobs": len(s.job_ids), "stages": s.stages, "tasks": s.tasks,
                        **s.attrs,
                        "spark_jobs": [
                            job(jid, j) for jid, j in sorted(log.jobs.items()) if j.group == s.id
                        ],
                    }
                    for s in tracer.spans
                ],
                **extra,
            },
            f,
            indent=1,
            default=str,
        )
