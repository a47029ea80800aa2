"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

The log is one JSON object per line. Jobs carry the submitting thread's
local properties, so wrapping an action in ``sc.setJobGroup(g, ...)``
tags its jobs with ``spark.jobGroup.id = g``; stages inherit the group
of the job that lists them and tasks the group of their stage. The
summaries below are per group.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from perfbench.stats import median

MB = 1e6


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    input_bytes: int
    output_bytes: int
    #: (accumulator id, update) of the task's SQL metrics
    accumulables: list[tuple[int, int]] = field(default_factory=list)
    #: rows returned by the Python hop (MapInPandas) in this task
    python_rows: int = 0

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Group:
    jobs: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)


def _task(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    im = m.get("Input Metrics") or {}
    om = m.get("Output Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill=m.get("Disk Bytes Spilled", 0),
        input_bytes=im.get("Bytes Read", 0),
        output_bytes=om.get("Bytes Written", 0),
        accumulables=[
            (a["ID"], int(a["Update"])) for a in info.get("Accumulables", [])
            if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).isdigit()
        ],
    )


def _python_row_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the 'number of output rows' metric of every
    Python-hop (MapInPandas) node in a SQL plan tree."""
    if plan.get("nodeName") == "MapInPandas":
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m.get("name") == "number of output rows")
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def read_groups(lines) -> dict[str, Group]:
    """Group the task events of an event log (an iterable of lines) by
    job group. Jobs submitted outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, Group] = {}
    pending: list[Task] = []
    python_ids: set[int] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if "sparkPlanInfo" in ev:  # SQL execution start / adaptive update
            _python_row_ids(ev["sparkPlanInfo"], python_ids)
        elif kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(g, Group()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Info"):
            pending.append(_task(ev))
    for t in pending:
        t.python_rows = sum(u for i, u in t.accumulables if i in python_ids)
        g = groups.setdefault(stage_group.get(t.stage, ""), Group())
        g.tasks.append(t)
        g.stages.add(t.stage)
    return groups


def read_log_dir(log_dir: str) -> dict[str, Group]:
    """Read the one application log in ``log_dir`` (a single file: the
    traced session turns rolling off); the context that wrote it must be
    stopped, so the log is complete."""
    apps = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {log_dir}, found {apps}")
    with open(os.path.join(log_dir, apps[0])) as fh:
        return read_groups(fh)


def summarize(group: Group, wall_s: float, slots: int) -> dict[str, float]:
    """Runtime metrics of one group whose actions took ``wall_s``."""
    tasks = group.tasks
    if not tasks:
        raise ValueError("group ran no tasks")
    durations = [t.duration_ms for t in tasks]
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    # skew of the stage that held the most task time: its slowest task
    # over its median task (the straggler that sets the stage's end)
    heaviest = max(by_stage.values(), key=sum)
    run_ms = sum(t.run_ms for t in tasks)
    return {
        "tasks": len(tasks),
        "task_p50_ms": median(durations),
        "task_max_ms": max(durations),
        "task_skew": max(heaviest) / max(median(heaviest), 1),
        "slot_busy_frac": sum(durations) / 1000 / (slots * wall_s),
        "gc_frac": sum(t.gc_ms for t in tasks) / max(run_ms, 1),
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "spill_mb": sum(t.spill for t in tasks) / MB,
        "input_mb": sum(t.input_bytes for t in tasks) / MB,
        "output_mb": sum(t.output_bytes for t in tasks) / MB,
        "jobs": group.jobs,
        "stages": len(group.stages),
    }
