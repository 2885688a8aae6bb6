"""Fold an uncompressed Spark event log into per-op and per-layer numbers.

Jobs are assigned to a time window (an op, a probe, a layer span) by
their submission time; both the event log and the benchmark stamp times
with the wall clock in epoch milliseconds.  A job's *call site* is the
``hashio_spark/...`` file named in its SQL execution's description
(``collect at .../hashio_spark/cli.py:74``); writes issued through the
JVM writer carry no Python call site and fold under ``<jvm-writer>``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

_CALLSITE = re.compile(r"(hashio_spark/[\w/]+\.py)")


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    input_b: int
    input_records: int


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    callsite: str = "<jvm-writer>"


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]
    stage_ms: dict[int, int]  # stage id -> wall ms (submission -> completion)


def read(path: str) -> EventLog:
    """Parse every event file under ``path`` (a file or a directory)."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "appstatus"))
        )
    sql_desc: dict[int, str] = {}
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    stage_ms: dict[int, int] = {}
    for fn in files:
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart"):
                    sql_desc[e["executionId"]] = e.get("description") or ""
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    desc = props.get("callSite.short") or ""
                    if not _CALLSITE.search(desc):
                        exec_id = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
                        desc = sql_desc.get(int(exec_id), "") if exec_id is not None else ""
                    m = _CALLSITE.search(desc)
                    jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"], stages=e["Stage IDs"],
                                            callsite=m.group(1) if m else "<jvm-writer>")
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        stage_ms[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    m = e["Task Metrics"]
                    info = e["Task Info"]
                    rd = m.get("Shuffle Read Metrics", {})
                    tasks.append(Task(
                        stage=e["Stage ID"],
                        run_ms=info["Finish Time"] - info["Launch Time"],
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        shuffle_write_b=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        shuffle_read_b=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        spill_b=m.get("Disk Bytes Spilled", 0),
                        input_b=m.get("Input Metrics", {}).get("Bytes Read", 0),
                        input_records=m.get("Input Metrics", {}).get("Records Read", 0),
                    ))
    # a job lists the stages it reuses from earlier jobs as well (skipped,
    # no tasks); keep each stage only on the first job that lists it
    seen: set[int] = set()
    ordered = sorted(jobs.values(), key=lambda j: j.job_id)
    for j in ordered:
        j.stages = [s for s in j.stages if s not in seen]
        seen.update(j.stages)
    return EventLog(ordered, tasks, stage_ms)


def busy_s(jobs: list[Job]) -> float:
    """Wall seconds covered by at least one of ``jobs`` (union of intervals)."""
    total, cur = 0, None
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        if cur is None or j.submit_ms > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [j.submit_ms, j.end_ms]
        else:
            cur[1] = max(cur[1], j.end_ms)
    if cur:
        total += cur[1] - cur[0]
    return total / 1000


def jobs_in(log: EventLog, start_ms: float, end_ms: float) -> list[Job]:
    return [j for j in log.jobs if start_ms <= j.submit_ms <= end_ms]


def engine(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Spark engine totals over the tasks of ``jobs``.  ``task_skew`` is
    max/median task time of the longest-running stage among them."""
    stages = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stages]
    ran = {t.stage for t in tasks}
    skew = 1.0
    if ran:
        longest = max(ran, key=lambda s: log.stage_ms.get(s, 0))
        times = [t.run_ms for t in tasks if t.stage == longest]
        skew = max(times) / max(statistics.median(times), 1)
    mb = 2**20
    return {
        "spark.stages": len(ran),
        "spark.tasks": len(tasks),
        "spark.task_cpu_s": sum(t.cpu_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / mb,
        "spark.shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / mb,
        "spark.spill_mb": sum(t.spill_b for t in tasks) / mb,
        "spark.input_mb": sum(t.input_b for t in tasks) / mb,
        "spark.input_records": sum(t.input_records for t in tasks),
        "spark.task_skew": skew,
    }


def by_callsite(log: EventLog, jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Per call-site file: job count, busy seconds, and engine totals."""
    out = {}
    for cs in sorted({j.callsite for j in jobs}):
        js = [j for j in jobs if j.callsite == cs]
        out[cs] = {"jobs": len(js), "jobs_s": busy_s(js), **engine(log, js)}
    return out


def stage_table(log: EventLog, jobs: list[Job]) -> list[dict]:
    """One row per stage that ran tasks for ``jobs``, longest first."""
    rows = []
    for job in jobs:
        for s in job.stages:
            ts = [t for t in log.tasks if t.stage == s]
            if not ts:
                continue
            rows.append({
                "stage": s, "job": job.job_id, "callsite": job.callsite,
                "wall_ms": log.stage_ms.get(s, 0), "tasks": len(ts),
                "task_cpu_s": round(sum(t.cpu_s for t in ts), 4),
                "max_task_ms": max(t.run_ms for t in ts),
                "median_task_ms": statistics.median(t.run_ms for t in ts),
                "shuffle_write_mb": round(sum(t.shuffle_write_b for t in ts) / 2**20, 4),
                "input_records": sum(t.input_records for t in ts),
            })
    return sorted(rows, key=lambda r: -r["wall_ms"])
