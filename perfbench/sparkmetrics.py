"""Per-phase Spark metrics from Spark's own event log.

The traced run enables ``spark.eventLog`` and tags each phase's jobs
with ``setJobGroup``. After the session stops, this module folds the
log's task-end events into one record per job group: jobs, tasks,
executor run time, GC time, shuffle bytes, spill, task-duration skew
and the share of the phase's wall time in which no task was running.
No dependency beyond the standard library.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import common


def read_events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*", "events_*"))):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def fold(event_dir: str) -> dict[str, dict]:
    """job group -> aggregated task metrics of every job it launched."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list] = {}
    for ev in read_events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group:
                tasks.setdefault(group, []).append(ev)
    return {g: _aggregate(jobs[g], tasks.get(g, [])) for g in jobs}


def _aggregate(n_jobs: int, task_events: list) -> dict:
    run_ms = gc_ms = shuffle_read = shuffle_write = spill = 0
    per_stage: dict[int, list] = {}
    intervals = []
    for ev in task_events:
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        launch, finish = info["Launch Time"], info["Finish Time"]
        per_stage.setdefault(ev["Stage ID"], []).append(finish - launch)
        intervals.append((launch, finish))
    skew = 1.0
    for durations in per_stage.values():
        if len(durations) >= 4:
            mid = statistics.median(durations)
            if mid > 0:
                skew = max(skew, max(durations) / mid)
    return {
        "jobs": n_jobs,
        "tasks": len(task_events),
        "task_s": run_ms / 1e3,
        "gc_s": gc_ms / 1e3,
        "shuffle_read_bytes": shuffle_read,
        "shuffle_write_bytes": shuffle_write,
        "spill_bytes": spill,
        "max_over_median_task": skew,
        "busy_s": common.union_length(intervals) / 1e3,
    }

