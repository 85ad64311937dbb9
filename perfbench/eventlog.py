"""Fold a Spark event log into per-job-group executor counters.

The log must be uncompressed and non-rolling (one JSON event per line):
the traced benchmark process turns it on with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``.
Each stage is attributed to the job group in its submission properties;
each task to its stage.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class GroupStats:
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold(path: str) -> dict[str | None, GroupStats]:
    """Per job group (``None`` for jobs launched with no group): stages
    completed, single-task stages, tasks, failed tasks, executor run and
    CPU seconds, shuffle bytes written and bytes spilled (memory + disk)."""
    stage_group: dict[tuple[int, int], str | None] = {}
    stage_job_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = defaultdict(GroupStats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                for sid in ev.get("Stage IDs", ()):
                    stage_job_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = props.get(
                    GROUP_PROP, stage_job_group.get(info["Stage ID"])
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = out[stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))]
                g.stages += 1
                g.single_task_stages += info["Number of Tasks"] == 1
            elif kind == "SparkListenerTaskEnd":
                g = out[stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))]
                g.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                g.exec_run_s += m.get("Executor Run Time", 0) / 1e3
                g.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return dict(out)
