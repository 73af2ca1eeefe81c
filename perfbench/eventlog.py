"""Spark event-log reader for the traced run.

The traced run enables ``spark.eventLog`` and tags the jobs of each
pipeline stage with a job group (``SparkContext.setJobGroup``). After the
session stops, this module folds the task-end events by job group into
per-stage runtime figures. It needs no Spark UI.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0        # Σ executor run time (task-slot busy time)
    cpu_s: float = 0.0        # Σ executor JVM CPU time
    gc_s: float = 0.0
    spill_bytes: int = 0      # memory + disk bytes spilled
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    # per Spark stage: task durations (s), for skew
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max ÷ median task duration in this group's busiest Spark stage
        (by summed task time); 1.0 when the group ran no tasks."""
        if not self.stage_tasks:
            return 1.0
        durs = max(self.stage_tasks.values(), key=sum)
        med = float(np.median(durs))
        return max(durs) / med if med > 0 else 1.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """job group id → GroupStats over every event file under ``log_dir``
    (Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>``). A Spark stage
    is charged to the group of the first job that ran it."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    paths = sorted(
        (int(name.split("_")[1]), os.path.join(d, name))
        for d, _, names in os.walk(log_dir)
        for name in names
        if name.startswith("events_")
    )
    for _, path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stats[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stats[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(stats)


def _add_task(g: GroupStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    g.tasks += 1
    g.run_s += m.get("Executor Run Time", 0) / 1e3
    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    g.stage_tasks.setdefault(ev["Stage ID"], []).append(dur)
