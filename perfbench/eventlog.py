"""Spark event-log parser: executor, GC, shuffle, spill and
scheduler-delay figures per job group.

Reads the JSON-lines log Spark writes when ``spark.eventLog.enabled``
is on. Tasks are attributed to the job group of the job that ran their
stage (``spark.jobGroup.id`` in the job-start properties).
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = ("jobs", "run_s", "tasks", "failed_tasks", "executor_run_s",
          "executor_cpu_s", "gc_s", "scheduler_delay_s",
          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes")


def scheduler_delay_ms(info: dict, metrics: dict) -> float:
    """Spark UI's definition: task wall time not spent deserializing,
    running, serializing the result or fetching it."""
    duration = info["Finish Time"] - info["Launch Time"]
    getting = 0
    if info.get("Getting Result Time", 0) > 0:
        getting = info["Finish Time"] - info["Getting Result Time"]
    busy = (metrics.get("Executor Run Time", 0)
            + metrics.get("Executor Deserialize Time", 0)
            + metrics.get("Result Serialization Time", 0) + getting)
    return max(0, duration - busy)


def parse(lines) -> dict[str, dict[str, float]]:
    """Job group -> totals of :data:`FIELDS`. Jobs without a group are
    reported under ``""``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            out[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                out[job_group[jid]]["run_s"] += (ev["Completion Time"] - job_start[jid]) / 1000
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc = out[group]
            acc["tasks"] += 1
            acc["failed_tasks"] += bool(info.get("Failed"))
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000
            acc["scheduler_delay_s"] += scheduler_delay_ms(info, m) / 1000
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return dict(out)


def parse_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return parse(f)
