"""Spark event-log reader that attributes jobs and task metrics to spans.

The traced run enables Spark's own event log (uncompressed, not rolled) and
labels each job with ``perfbench span=<id>`` through the job description
(see ``spans.py``).  This module reads the log back after the session has
stopped and sums, per span id, the jobs, stages and task metrics it
caused, including the rows read from the cached fetch universe and the rows
generated by ``spark.range`` plans (the check-API probe tables).  Times in
the log are epoch milliseconds; the values returned here are seconds and
bytes.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

_SPAN_RE = re.compile(r"perfbench span=(\d+)")
_PYTHON_RUN = "time to run Python workers"  # SQL timing metric, ms
_ROWS_OUT = "number of output rows"
_KEEP = (  # event names this reader uses; every other line is skipped
    "SparkListenerJobStart",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class Job:
    id: int
    span: int | None
    submit: float
    stages: list[int]


@dataclass
class Task:
    job: int | None
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    python_s: float
    scan_rows: int
    range_rows: int = 0


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    scan_rows: int = 0
    range_rows: int = 0

    def add_task(self, t: Task) -> None:
        self.task_s += t.run_s
        self.gc_s += t.gc_s
        self.python_s += t.python_s
        self.shuffle_write += t.shuffle_write
        self.spill += t.spill
        self.scan_rows += t.scan_rows
        self.range_rows += t.range_rows


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _cached_plan_text(scan: dict) -> str:
    """Text of the plan an InMemoryTableScan reads, without descending
    into further cached relations it was built from."""
    parts, stack = [], list(scan.get("children", ()))
    while stack:
        n = stack.pop()
        parts.append(n.get("simpleString", ""))
        if not n["nodeName"].startswith("InMemoryTableScan"):
            stack.extend(n.get("children", ()))
    return "\n".join(parts)


def range_accumulators(plan: dict) -> set[int]:
    """Accumulator ids of 'number of output rows' of every Range node in
    ``plan`` outside cached relations (whose inner plans do not run again
    once they are cached)."""
    ids, stack = set(), [plan]
    while stack:
        n = stack.pop()
        if n["nodeName"] == "Range":
            ids.update(m["accumulatorId"] for m in n.get("metrics", ())
                       if m["name"] == _ROWS_OUT)
        if not n["nodeName"].startswith("InMemoryTableScan"):
            stack.extend(n.get("children", ()))
    return ids


def scan_accumulators(plan: dict, marker: str) -> set[int]:
    """Accumulator ids of 'number of output rows' of every cached-table
    scan in ``plan`` whose cached plan contains ``marker``."""
    ids = set()
    for n in _walk(plan):
        if n["nodeName"] == "InMemoryTableScan" and marker in _cached_plan_text(n):
            ids.update(m["accumulatorId"] for m in n.get("metrics", ())
                       if m["name"] == _ROWS_OUT)
    return ids


class EventLog:
    def __init__(self, jobs: dict[int, Job], tasks: list[Task]):
        self.jobs = jobs
        self.tasks = tasks

    @classmethod
    def read(cls, lines, scan_marker: str | None = None) -> "EventLog":
        """Parse an event log given as an iterable of JSON lines.  Rows of
        cached-table scans whose plan contains ``scan_marker`` are summed
        into ``Task.scan_rows``."""
        jobs: dict[int, Job] = {}
        stage_job: dict[int, int] = {}
        scan_ids: set[int] = set()
        range_ids: set[int] = set()
        raw_tasks = []
        for line in lines:
            if not any(k in line[:120] for k in _KEEP):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                m = _SPAN_RE.search(desc)
                job = Job(ev["Job ID"], int(m.group(1)) if m else None,
                          ev["Submission Time"] / 1000, list(ev["Stage IDs"]))
                jobs[job.id] = job
                for s in job.stages:
                    stage_job[s] = job.id
            elif kind == "SparkListenerTaskEnd":
                raw_tasks.append(ev)
            elif "sparkPlanInfo" in ev:
                range_ids |= range_accumulators(ev["sparkPlanInfo"])
                if scan_marker is not None:
                    scan_ids |= scan_accumulators(ev["sparkPlanInfo"],
                                                  scan_marker)
        tasks = []
        for ev in raw_tasks:
            info, met = ev["Task Info"], ev.get("Task Metrics") or {}
            python_ms = rows = ranged = 0
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == _PYTHON_RUN:
                    python_ms += int(acc.get("Update") or 0)
                elif acc.get("ID") in scan_ids:
                    rows += int(acc.get("Update") or 0)
                elif acc.get("ID") in range_ids:
                    ranged += int(acc.get("Update") or 0)
            tasks.append(Task(
                job=stage_job.get(ev["Stage ID"]),
                launch=info["Launch Time"] / 1000,
                finish=info["Finish Time"] / 1000,
                run_s=met.get("Executor Run Time", 0) / 1000,
                gc_s=met.get("JVM GC Time", 0) / 1000,
                shuffle_write=(met.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                spill=met.get("Memory Bytes Spilled", 0)
                + met.get("Disk Bytes Spilled", 0),
                python_s=python_ms / 1000,
                scan_rows=rows,
                range_rows=ranged,
            ))
        return cls(jobs, tasks)

    @classmethod
    def read_file(cls, path, scan_marker: str | None = None) -> "EventLog":
        with open(path, encoding="utf-8") as f:
            return cls.read(f, scan_marker)

    def window(self, t0: float, t1: float) -> "EventLog":
        """Jobs submitted in [t0, t1) and their tasks."""
        jobs = {j.id: j for j in self.jobs.values() if t0 <= j.submit < t1}
        return EventLog(jobs, [t for t in self.tasks if t.job in jobs])

    def totals(self) -> Totals:
        out = Totals(jobs=len(self.jobs),
                     stages=sum(len(j.stages) for j in self.jobs.values()))
        for t in self.tasks:
            out.add_task(t)
        return out

    def job_walls(self) -> list[float]:
        """Wall time of each job: submission to its last task's end."""
        end: dict[int, float] = {}
        for t in self.tasks:
            end[t.job] = max(end.get(t.job, 0.0), t.finish)
        return [end[j.id] - j.submit for j in self.jobs.values()
                if j.id in end]

    def by_span(self) -> dict[int | None, Totals]:
        """Totals per span id (None: jobs submitted outside any span)."""
        out: dict[int | None, Totals] = {}
        for j in self.jobs.values():
            tot = out.setdefault(j.span, Totals())
            tot.jobs += 1
            tot.stages += len(j.stages)
        for t in self.tasks:
            if t.job in self.jobs:
                out[self.jobs[t.job].span].add_task(t)
        return out
