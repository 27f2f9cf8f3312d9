"""Spark event log → per-job-group totals.

The measuring process tags every job with a job group
``pb|<workload>|<op>|<pass>|<phase>``. Spark's own event log (enabled from
the launch environment) records each job's group in its properties, so
every stage and task can be attributed to one (op, pass, phase).
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"

# task accumulables written by the Python-worker operators
# (ArrowEvalPython, MapInPandas, ...), by display name
PYWORKER_ACCUMS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_in",
    "data returned from Python workers": "pyworker.bytes_out",
}


class GroupTotals:
    """Counters for one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.failed_tasks = 0
        self.shuffle_read_bytes = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.result_bytes = 0
        self.executor_run_s = 0.0
        self.executor_cpu_s = 0.0
        self.gc_s = 0.0
        self.intervals: list[tuple[float, float]] = []
        self.accums: dict[str, float] = defaultdict(float)


def _accum_number(update) -> float | None:
    if isinstance(update, (int, float)):
        return float(update)
    if isinstance(update, str):
        try:
            return float(update)
        except ValueError:
            return None
    return None


def parse(path: str) -> tuple[dict[str, GroupTotals], int]:
    """Totals per job group, and the number of jobs that carried no group."""
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    ungrouped = 0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                if group is None:
                    ungrouped += 1
                    continue
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                groups[group].jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]].intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or stage_group.get(
                    info["Stage ID"]
                )
                if group is not None:
                    stage_group[info["Stage ID"]] = group
                    groups[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                g.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                g.result_bytes += m.get("Result Size", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                wr = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    name = acc.get("Name")
                    if name in PYWORKER_ACCUMS:
                        value = _accum_number(acc.get("Update"))
                        if value is not None:
                            g.accums[name] += value
    return dict(groups), ungrouped


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
