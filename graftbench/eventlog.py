"""Spark event-log parser.

Reads logs written with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``: a single JSON-lines file per
application, or Spark 4's rolled layout, a directory
``eventlog_v2_<app>/`` holding ``events_<n>_<app>`` files read in
``<n>`` order. Jobs are attributed to the operation that ran them by
their job group (``spark.jobGroup.id``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

#: SQL task metrics (task-info accumulables) that carry the Python
#: boundary's traffic.
PY_TO_WORKER = "data sent to Python workers"
PY_FROM_WORKER = "data returned from Python workers"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_ms: int
    spill_bytes: int
    output_bytes: int
    py_to_worker: int
    py_from_worker: int


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    stages: list[int]
    end_ms: int | None = None
    tasks: list[Task] = field(default_factory=list)

    @property
    def first_launch_ms(self) -> int | None:
        return min((t.launch_ms for t in self.tasks), default=None)


@dataclass
class Log:
    jobs: dict[int, Job]
    submitted: set[int]  # stage ids that ran (skipped stages are absent)

    def in_group(self, predicate) -> list[Job]:
        return [j for j in self.jobs.values() if j.group is not None and predicate(j.group)]


def log_files(path: Path) -> list[Path]:
    """The event files of every application under ``path``, rolled
    parts in order. ``path`` is an event-log directory, one rolled
    application directory, or a single log file."""
    path = Path(path)
    if path.is_file():
        return [path]
    if path.name.startswith("eventlog_v2_"):
        parts = [p for p in path.iterdir() if p.name.startswith("events_")]
        return sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", p.name).group(1)))
    out: list[Path] = []
    for child in sorted(path.iterdir()):
        if child.name.startswith((".", "_")) or child.name.endswith(".inprogress"):
            continue
        out.extend(log_files(child))
    return out


def _acc(info: dict, name: str) -> int:
    return sum(
        int(a.get("Update") or 0)
        for a in info.get("Accumulables", ())
        if a.get("Name") == name
    )


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    return Task(
        stage=e["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
        input_records=m.get("Input Metrics", {}).get("Records Read", 0),
        shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
        py_to_worker=_acc(info, PY_TO_WORKER),
        py_from_worker=_acc(info, PY_FROM_WORKER),
    )


def parse(path: Path) -> Log:
    """Parse every event file under ``path`` into jobs with their
    tasks. A stage shared by two jobs is credited to the first."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    submitted: set[int] = set()
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(
                        id=e["Job ID"],
                        group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
                        submit_ms=e["Submission Time"],
                        stages=list(e.get("Stage IDs", ())),
                    )
                    jobs[job.id] = job
                    for s in job.stages:
                        stage_job.setdefault(s, job.id)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    owner = stage_job.get(e["Stage ID"])
                    if owner is not None and e.get("Task Info"):
                        jobs[owner].tasks.append(_task(e))
    return Log(jobs, submitted)
