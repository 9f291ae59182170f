"""Offline parser for Spark's JSON event log (stdlib ``json`` only).

Aggregates ``SparkListenerTaskEnd`` metrics by the job group that
``SparkListenerJobStart`` carries. Streaming micro-batch jobs run under the
stream's runId as job group; ``run_ids`` maps those back to the
benchmark's operation id.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from lakebench.trace import union_length

#: Per-task counters summed per group.
TASK_FIELDS = (
    "tasks",
    "failed_tasks",
    "task_run_ms",
    "task_cpu_ms",
    "python_gap_ms",
    "gc_ms",
    "scheduler_delay_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class GroupStats:
    jobs: int = 0
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0)
    )
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def _task_counters(ev: dict) -> dict[str, float]:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run = float(m.get("Executor Run Time", 0))
    cpu = float(m.get("Executor CPU Time", 0)) / 1e6  # ns -> ms
    launch = float(info.get("Launch Time", 0))
    finish = float(info.get("Finish Time", launch))
    getting = float(info.get("Getting Result Time", 0))
    end = getting if getting > 0 else finish
    delay = (end - launch) - run - float(m.get("Executor Deserialize Time", 0)) - float(
        m.get("Result Serialization Time", 0)
    )
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    failed = bool(info.get("Failed")) or (
        ev.get("Task End Reason", {}).get("Reason", "Success") != "Success"
    )
    return {
        "tasks": 1.0,
        "failed_tasks": 1.0 if failed else 0.0,
        "task_run_ms": run,
        "task_cpu_ms": cpu,
        "python_gap_ms": max(run - cpu, 0.0),
        "gc_ms": float(m.get("JVM GC Time", 0)),
        "scheduler_delay_ms": max(delay, 0.0),
        "shuffle_read_bytes": float(
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ),
        "shuffle_write_bytes": float(sw.get("Shuffle Bytes Written", 0)),
        "spill_bytes": float(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ),
    }


def parse_events(lines, run_ids: dict[str, str] | None = None) -> dict[str, GroupStats]:
    """Aggregate an event log (an iterable of JSON lines) by job group.

    ``run_ids`` maps a streaming query's runId to the group its jobs should
    be counted under. Jobs without a group land under ``""``. Job
    intervals are in epoch seconds, like the benchmark's spans.
    """
    run_ids = run_ids or {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            group = run_ids.get(group, group)
            jid = int(ev["Job ID"])
            job_group[jid] = group
            job_start[jid] = float(ev.get("Submission Time", 0)) / 1000
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(int(sid), group)
            groups.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = int(ev["Job ID"])
            if jid in job_group:
                end = float(ev.get("Completion Time", 0)) / 1000
                groups[job_group[jid]].job_intervals.append(
                    (job_start[jid], max(end, job_start[jid]))
                )
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev.get("Stage ID", -1)), "")
            g = groups.setdefault(group, GroupStats())
            for k, v in _task_counters(ev).items():
                g.counters[k] += v
    return groups


def parse_dir(event_dir: str, run_ids: dict[str, str] | None = None) -> dict[str, GroupStats]:
    """Parse every (uncompressed) event-log file in ``event_dir``."""
    lines: list[str] = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            lines.extend(f)
    return parse_events(lines, run_ids)


def driver_only(wall: tuple[float, float], job_intervals: list[tuple[float, float]]) -> float:
    """Operation wall time minus the union of its jobs' intervals
    (clipped to the operation)."""
    s, e = wall
    clipped = [(max(a, s), min(b, e)) for a, b in job_intervals if b > s and a < e]
    return (e - s) - union_length(clipped)
