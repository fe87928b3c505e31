"""Stdlib parser for an uncompressed, non-rolling Spark event log.

Jobs and stages carry the job group of the span that started them
(``spark.jobGroup.id`` in their properties); tasks are attributed through
their stage. The summary keeps, per job group, the counts and task
metrics the benchmark reports, plus every job's busy interval.
"""

from __future__ import annotations

import json
import os

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def find_log(log_dir: str) -> str | None:
    """The single finished application log in ``log_dir``."""
    names = [
        n for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if len(names) != 1:
        return None
    return os.path.join(log_dir, names[0])


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def summarize(lines) -> dict:
    """``{"groups": {group: {counter: value}}, "jobs": [(start_s, end_s,
    group)]}`` from event-log lines (an open file works)."""
    groups: dict[str | None, dict[str, float]] = {}
    stage_group: dict[int, str | None] = {}
    job_start: dict[int, tuple[float, str | None]] = {}
    jobs: list[tuple[float, float, str | None]] = []

    def bucket(g):
        return groups.setdefault(g, dict.fromkeys(COUNTERS, 0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(e)
            job_start[e["Job ID"]] = (e["Submission Time"] / 1000.0, g)
            bucket(g)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(e["Job ID"], None)
            if started is not None:
                jobs.append((started[0], e["Completion Time"] / 1000.0, started[1]))
        elif kind == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = _group(e)
        elif kind == "SparkListenerStageCompleted":
            bucket(stage_group.get(e["Stage Info"]["Stage ID"]))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(e["Stage ID"]))
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            b["tasks"] += 1
            b["run_ms"] += m.get("Executor Run Time", 0)
            b["cpu_ns"] += m.get("Executor CPU Time", 0)
            b["gc_ms"] += m.get("JVM GC Time", 0)
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"groups": groups, "jobs": sorted(jobs)}


def summarize_file(path: str) -> dict:
    with open(path) as f:
        return summarize(f)


def totals(summary: dict, group_ids) -> dict[str, float]:
    """Counters summed over the given job groups."""
    out = dict.fromkeys(COUNTERS, 0)
    for g in group_ids:
        for k, v in summary["groups"].get(g, {}).items():
            out[k] += v
    return out
