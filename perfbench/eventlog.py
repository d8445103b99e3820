"""Spark event-log parser: one record per job, with its stages' task totals.

The traced run writes an uncompressed, non-rolling event log. Each job
carries the job group and job description that were set when it was
submitted. Stages are credited to the first job that ran them (a stage
that an earlier job already computed is skipped, not re-run), and tasks to
their stage.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    submit_ms: int
    group: str | None
    description: str | None
    stages: set[int] = field(default_factory=set)
    ran_stages: set[int] = field(default_factory=set)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    first_launch_ms: int | None = None

    @property
    def sched_wait_ms(self) -> int:
        """Submission to the first task launch (0 for a job with no tasks)."""
        if self.first_launch_ms is None:
            return 0
        return max(self.first_launch_ms - self.submit_ms, 0)


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, in write order."""
    rolling = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                     key=lambda p: int(os.path.basename(p).split("_")[1]))
    if rolling:
        return rolling
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse(events) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                id=e["Job ID"],
                submit_ms=e["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                description=props.get("spark.job.description"),
                stages=set(e.get("Stage IDs", ())),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].ran_stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            job = jobs[stage_job[sid]]
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            job.tasks += 1
            launch = info.get("Launch Time")
            if launch is not None and (job.first_launch_ms is None or launch < job.first_launch_ms):
                job.first_launch_ms = launch
            job.run_ms += m.get("Executor Run Time", 0)
            job.cpu_ns += m.get("Executor CPU Time", 0)
            job.gc_ms += m.get("JVM GC Time", 0)
            job.spill_b += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs


def in_window(jobs: dict[int, Job], start_ms: float, end_ms: float) -> list[Job]:
    """Jobs submitted inside ``[start_ms, end_ms]`` (wall-clock epoch ms)."""
    return [j for j in jobs.values() if start_ms <= j.submit_ms <= end_ms]
