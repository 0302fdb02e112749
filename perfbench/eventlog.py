"""Stdlib reader for a Spark JSON event log (``spark.eventLog.enabled``).

Sums, per job group, the shuffle bytes read and written and the tasks that
ended in anything but success. A task is charged to the group of the first
job that listed its stage: a later job that lists the same stage skips it.
The log must be uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict


def _zero() -> dict:
    return {
        "tasks": 0,
        "failed_tasks": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
    }


def sum_by_job_group(lines) -> dict[str, dict[str, int]]:
    """``{job group id: {tasks, failed_tasks, shuffle_read_bytes,
    shuffle_write_bytes}}`` from event-log lines. Jobs without a group are
    left out."""
    stage_group: dict[int, str | None] = {}
    totals: dict[str, dict] = defaultdict(_zero)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            t = totals[group]
            t["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                t["failed_tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            read = metrics.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            write = metrics.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
    return dict(totals)


def read_event_log(path: str) -> dict[str, dict[str, int]]:
    with open(path, encoding="utf-8") as f:
        return sum_by_job_group(f)
