"""Spark event log → per-span task counts, task seconds and job intervals.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled=true``. Each job is attributed to the innermost
benchmark span open at its submission time: the engine submits jobs from
its own background threads, which do not inherit the caller's job group,
so the group (set per span for the event log's readers) cannot place them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from spans import union_length


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0


def read_jobs(log_dir: str) -> list[Job]:
    """Every job in the event log(s) under ``log_dir``, with task totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_rows: list[tuple[int, float]] = []
    files = sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(log_dir)
        for f in names if not f.startswith(".")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:  # a torn last line of an unflushed log
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0,
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    task_rows.append((ev["Stage ID"], max(0, dur) / 1000.0))
    for stage, dur in task_rows:
        j = jobs.get(stage_job.get(stage, -1))
        if j is not None:
            j.tasks += 1
            j.task_s += dur
    return sorted(jobs.values(), key=lambda j: j.submit)


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Wall time in [start, end] during which at least one job ran."""
    return union_length(
        (max(j.submit, start), min(j.end or end, end)) for j in jobs
    )
