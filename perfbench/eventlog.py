"""Spark event-log reducer: jobs, stages and task metrics per job group.

A run enables ``spark.eventLog`` into a local directory; the traced run
gives every span its own job group. This module reads the log back and
sums, per job group, what the engine did for that span: jobs, stages,
shuffle bytes written, spill, GC, task CPU, failed tasks, and the job
intervals (for the driver gap: span wall minus the union of its jobs).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    task_cpu_ns: int = 0
    failed_tasks: int = 0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.gc_ms += other.gc_ms
        self.task_cpu_ns += other.task_cpu_ns
        self.failed_tasks += other.failed_tasks
        self.job_intervals += other.job_intervals


def union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def log_files(log_dir: str) -> list[str]:
    """Finished application logs in ``log_dir`` (one per SparkContext)."""
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def reduce_log(path: str) -> dict[str, GroupStats]:
    """Job group id → GroupStats for one application's event log. Jobs
    without a group land under the empty string."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def stats(group: str) -> GroupStats:
        return out.setdefault(group, GroupStats())

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                stats(group).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    stats(job_group[jid]).job_intervals.append(
                        (job_start[jid], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stats(stage_group.get(sid, "")).stages += 1
            elif kind == "SparkListenerTaskEnd":
                s = stats(stage_group.get(ev["Stage ID"], ""))
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    s.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                s.task_cpu_ns += m.get("Executor CPU Time", 0)
                s.gc_ms += m.get("JVM GC Time", 0)
                s.spill_bytes += m.get("Disk Bytes Spilled", 0)
                s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return out


def peak_executor_metrics(log_dir: str) -> dict[str, int]:
    """Peak of each executor memory metric (``JVMHeapMemory``,
    ``JVMOffHeapMemory``, ...) over the logs in ``log_dir``: the per-task
    and per-stage peaks Spark's metrics poller recorded."""
    peaks: dict[str, int] = {}
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                m = ev.get("Executor Metrics") or ev.get("Task Executor Metrics") or {}
                for k, v in m.items():
                    if v > peaks.get(k, -1):
                        peaks[k] = v
    return peaks
