"""Spark event-log reader: per-operation job, task and stage accounting.

The traced run sets ``spark.jobGroup.id`` to the operation id before each
operation, so every job in the event log names the operation that
submitted it. For each operation this gives:

- ``jobs``, ``in_job_s`` (union of its jobs' intervals inside the
  operation's window) and ``driver_gap_s`` (window minus that union: plan
  build, analysis, commit protocol and other driver-side work);
- task totals: ``tasks``, ``task_run_s``, ``task_cpu_s``, ``gc_s``,
  ``shuffle_write_mb``, ``spill_mb``, ``output_mb``;
- on stages that evaluate Python (pandas/Arrow UDFs, ``mapInPandas`` and
  the like): ``python_stages``, ``python_tasks`` and
  ``python_boundary_s``, the task run time the JVM spent not on its own
  CPU, i.e. waiting on Python workers and the Arrow hand-off.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from stats import clip, interval_union

# physical operators whose stage runs Python workers
_PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"AggregateInPandas|WindowInPandas|ArrowWindowPython|PythonUDTF"
)
_MB = 1024 * 1024


@dataclass
class Job:
    group: str
    submit_s: float
    end_s: float | None
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    python: bool = False


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)

    def jobs_of(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group and j.end_s is not None]

    def job_intervals(self, group: str) -> list[tuple[float, float]]:
        return [(j.submit_s, j.end_s) for j in self.jobs_of(group)]


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of a log still being written
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                group=props.get("spark.jobGroup.id") or "",
                submit_s=ev["Submission Time"] / 1000.0,
                end_s=None,
                stages=list(ev.get("Stage IDs") or []),
            )
            for info in ev.get("Stage Infos") or []:
                st = log.stages.setdefault(info["Stage ID"], StageTotals())
                st.python = st.python or _is_python_stage(info)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info") or {}
            st = log.stages.setdefault(info.get("Stage ID"), StageTotals())
            st.python = st.python or _is_python_stage(info)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = log.stages.setdefault(ev["Stage ID"], StageTotals())
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return log


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info") or []:
        if _PYTHON_NODE.search(rdd.get("Name", "")) or _PYTHON_NODE.search(rdd.get("Scope", "") or ""):
            return True
    return False


def load(events_dir: str) -> EventLog:
    """Parse the one event log of the run: Spark writes it uncompressed and
    unrolled into ``events_dir`` (next to hidden checksum files)."""
    (name,) = [f for f in os.listdir(events_dir) if not f.startswith(".")]
    with open(os.path.join(events_dir, name)) as fh:
        return parse(fh)


def op_layers(log: EventLog, op: str, start: float, end: float) -> dict:
    """Layer accounting for one operation over its window ``[start, end]``."""
    jobs = log.jobs_of(op)
    in_job = interval_union(clip([(j.submit_s, j.end_s) for j in jobs], start, end))
    out = {
        "jobs": len(jobs),
        "in_job_s": in_job,
        "driver_gap_s": max(0.0, (end - start) - in_job),
        "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
        "python_stages": 0, "python_tasks": 0, "python_boundary_s": 0.0,
    }
    seen: set[int] = set()
    for j in jobs:
        for sid in j.stages:
            if sid in seen or sid not in log.stages:
                continue
            seen.add(sid)
            st = log.stages[sid]
            out["tasks"] += st.tasks
            out["task_run_s"] += st.run_s
            out["task_cpu_s"] += st.cpu_s
            out["gc_s"] += st.gc_s
            out["shuffle_write_mb"] += st.shuffle_write_b / _MB
            out["spill_mb"] += st.spill_b / _MB
            out["output_mb"] += st.output_b / _MB
            if st.python and st.tasks:
                out["python_stages"] += 1
                out["python_tasks"] += st.tasks
                out["python_boundary_s"] += max(0.0, st.run_s - st.cpu_s)
    return out


def driver_time(log: EventLog, op: str, start: float, end: float) -> float:
    """Time inside ``[start, end]`` (a span of operation ``op``) not covered
    by any of the operation's Spark jobs."""
    return max(0.0, (end - start) - interval_union(clip(log.job_intervals(op), start, end)))
