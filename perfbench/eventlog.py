"""Roll Spark's own event log up into per-layer numbers.

With spark.eventLog.enabled=true and spark.eventLog.compress=false Spark
writes one JSON event per line, in a rolling directory
`eventlog_v2_<app>/events_<n>_<app>` (or a single file when rolling is
off). Jobs carry the job group the benchmark set around each call
(`spark.jobGroup.id` in the job properties); tasks carry their stage id,
launch wall-clock time and task metrics.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Task:
    stage: int
    launch_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_write_bytes: int
    spill_bytes: int  # disk bytes spilled


@dataclass
class Job:
    group: str | None
    stages: list[int]
    submit_ms: int
    end_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        stages = {s for j in jobs for s in j.stages}
        return [t for t in self.tasks if t.stage in stages]


def _event_files(log_dir: str) -> list[str]:
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]

    def order(p):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def parse(log_dir: str) -> EventLog:
    log = EventLog()
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    log.jobs[e["Job ID"]] = Job(
                        group=props.get("spark.jobGroup.id"),
                        stages=list(e.get("Stage IDs", [])),
                        submit_ms=e.get("Submission Time", 0),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(e["Job ID"])
                    if job is not None:
                        job.end_ms = e.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    info = e.get("Task Info") or {}
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    log.tasks.append(Task(
                        stage=e["Stage ID"],
                        launch_ms=info.get("Launch Time", 0),
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                    ))
    return log


def task_skew(tasks: list[Task]) -> float:
    """max / median task run time of the Spark stage with the most task
    time among `tasks` (the skew that costs the most wall time); 1.0 when
    no stage has two or more tasks."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(max(t.run_ms, 1))
    multi = [v for v in by_stage.values() if len(v) >= 2]
    if not multi:
        return 1.0
    heaviest = max(multi, key=sum)
    return float(max(heaviest) / np.median(heaviest))


def rollup(tasks: list[Task]) -> dict[str, float]:
    return {
        "tasks": float(len(tasks)),
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "shuffle_write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "task_skew": task_skew(tasks),
    }


def in_window(tasks: list[Task], start_ms: float, end_ms: float) -> list[Task]:
    return [t for t in tasks if start_ms <= t.launch_ms <= end_ms]
