"""Spark event-log parser: per-job-group jobs, stages, tasks, executor
time, GC, shuffle, spill and input bytes, plus the driver-gap arithmetic.

The benchmark runs each layer call under its own ``setJobGroup``; with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
the log is one JSON object per line, read here with stdlib ``json``.
A stage is attributed to the first job that lists it (later jobs that
reuse its shuffle output list it too, but skip it).
"""

from __future__ import annotations

import json
from dataclasses import dataclass


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class StageTotals:
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_job: dict[int, int]  # stage id -> owning job id
    stages: dict[int, StageTotals]  # completed (non-skipped) stages only

    def group_jobs(self, group: str) -> list[Job]:
        return sorted(
            (j for j in self.jobs.values() if j.group == group),
            key=lambda j: j.job_id,
        )

    def totals(self, jobs: list[Job]) -> tuple[StageTotals, int]:
        """Summed task metrics over the stages the jobs ran, and the
        number of those stages."""
        ids = {j.job_id for j in jobs}
        out, n = StageTotals(), 0
        for sid, st in self.stages.items():
            if self.stage_job.get(sid) in ids:
                out.add(st)
                n += 1
        return out, n


def _task_totals(metrics: dict) -> StageTotals:
    sr = metrics.get("Shuffle Read Metrics") or {}
    sw = metrics.get("Shuffle Write Metrics") or {}
    return StageTotals(
        tasks=1,
        executor_run_ms=metrics.get("Executor Run Time", 0),
        gc_ms=metrics.get("JVM GC Time", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=metrics.get("Disk Bytes Spilled", 0),
        input_bytes=(metrics.get("Input Metrics") or {}).get("Bytes Read", 0),
    )


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, StageTotals] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id"), ev["Submission Time"])
            for sid in ev.get("Stage IDs") or []:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            metrics = ev.get("Task Metrics")
            if metrics is None:
                continue
            stages.setdefault(ev["Stage ID"], StageTotals()).add(_task_totals(metrics))
    return EventLog(jobs, stage_job, stages)


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``
    (each clipped to the window)."""
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


def driver_gap(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Wall time of a call covered by none of its jobs: time the driver
    spent planning, in Python, or waiting between jobs."""
    return (end - start) - covered(start, end, intervals)
