"""Spark event-log reader: stage and task metrics per job group.

Run with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; Spark then writes plain JSON lines,
one event per line, under ``<dir>/eventlog_v2_<app>/events_*`` (or a
single ``<dir>/<app>`` file when rolling is off).  Each
``SparkListenerJobStart`` carries the job group (``spark.jobGroup.id``)
the submitting thread had set and the ids of the job's stages; each
``SparkListenerTaskEnd`` carries its stage id and task metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Task:
    stage_id: int
    wall_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)  # job id → group
    stage_job: dict[int, int] = field(default_factory=dict)  # stage id → job id
    tasks: list[Task] = field(default_factory=list)

    def jobs_in(self, groups: set[str]) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g in groups)

    def tasks_in(self, groups: set[str]) -> list[Task]:
        jobs = set(self.jobs_in(groups))
        return [t for t in self.tasks if self.stage_job.get(t.stage_id) in jobs]


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            log.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                log.stage_job[sid] = job
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            log.tasks.append(
                Task(
                    stage_id=ev["Stage ID"],
                    wall_ms=info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    run_ms=m.get("Executor Run Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    spill_bytes=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                )
            )
    return log


def event_files(log_dir: str) -> list[str]:
    """Every uncompressed event file under ``log_dir``, in write order."""
    rolled = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    if rolled:
        return rolled
    return sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith((".inprogress", ".crc"))
    )


def read_log(log_dir: str) -> EventLog:
    lines: list[str] = []
    for path in event_files(log_dir):
        with open(path) as f:
            lines.extend(f)
    return parse_lines(lines)


def group_metrics(log: EventLog, groups: set[str], wall_s: float, slots: int) -> dict:
    """Engine metrics of the jobs started under ``groups``.

    ``task_skew`` is the longest task over the median task;
    ``slot_utilization`` is task time over ``wall_s × slots`` — what is
    left is time the slots sat idle while the submitting process worked
    or waited.
    """
    tasks = log.tasks_in(groups)
    walls = [t.wall_ms for t in tasks]
    median_wall = statistics.median(walls) if walls else 0
    return {
        "jobs": len(log.jobs_in(groups)),
        "task_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "task_skew": max(walls) / max(median_wall, 1) if walls else 0.0,
        "slot_utilization": (
            sum(walls) / 1000.0 / (wall_s * slots) if wall_s > 0 and slots else 0.0
        ),
    }
