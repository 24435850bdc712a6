"""Spark event-log parser for the traced run.

The traced run tags every op with a Spark job group and records the op's
span (wall-clock start/end of its build, plan and exec phases). Spark
writes an uncompressed JSON-lines event log for that session only. This
module reads the log back and attributes each job, and the task metrics of
its stages, to a span:

* by job group when the job carries one of the benchmark's groups;
* otherwise by time (the job was submitted inside the span), and the job
  counts as unattributed. Jobs from pooled threads that lose the caller's
  local properties and streaming micro-batches (which run under their
  query's own group) land here.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    scan_b: float = 0.0
    output_b: float = 0.0

    def add(self, m: dict) -> None:
        self.tasks += 1
        self.run_ms += m.get("Executor Run Time", 0)
        self.cpu_ns += m.get("Executor CPU Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        self.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        self.spill_b += m.get("Disk Bytes Spilled", 0)
        self.scan_b += m.get("Input Metrics", {}).get("Bytes Read", 0)
        self.output_b += m.get("Output Metrics", {}).get("Bytes Written", 0)

    def merge(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def parse(path: str) -> tuple[dict[int, Job], dict[int, TaskTotals]]:
    """Jobs by id, and task-metric totals by job id."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, TaskTotals] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job = Job(jid, props.get("spark.jobGroup.id"), ev["Submission Time"], stage_ids=ev.get("Stage IDs", []))
                jobs[jid] = job
                for sid in job.stage_ids:
                    # a reused shuffle stage is listed again by later jobs
                    # but runs its tasks once, under the first job
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                stage_tasks.setdefault(ev["Stage ID"], TaskTotals()).add(ev.get("Task Metrics") or {})
    per_job: dict[int, TaskTotals] = {}
    for sid, totals in stage_tasks.items():
        jid = stage_job.get(sid)
        if jid is not None:
            per_job.setdefault(jid, TaskTotals()).merge(totals)
    return jobs, per_job


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], jobs: dict[int, Job], per_job: dict[int, TaskTotals]) -> int:
    """Fill each span dict with its jobs' count, how many of them carried
    no benchmark group, their interval union, the driver gap and the task
    totals. Return the number of jobs that fell outside every span."""
    by_group = {s["group"]: s for s in spans}
    for s in spans:
        s["job_ids"], s["unattributed_jobs"] = [], 0
    outside = 0
    for job in jobs.values():
        span = by_group.get(job.group)
        if span is None:
            span = next((s for s in spans if s["start_ms"] <= job.start_ms <= s["end_ms"]), None)
            if span is None:
                outside += 1
                continue
            span["unattributed_jobs"] += 1
        span["job_ids"].append(job.job_id)
    for s in spans:
        totals = TaskTotals()
        intervals = []
        for jid in s["job_ids"]:
            job = jobs[jid]
            end = job.end_ms if job.end_ms is not None else s["end_ms"]
            intervals.append((job.start_ms, end))
            if jid in per_job:
                totals.merge(per_job[jid])
        wall_s = (s["end_ms"] - s["start_ms"]) / 1e3
        s["jobs"] = len(s["job_ids"])
        s["jobs_union_s"] = union_ms(intervals) / 1e3
        s["driver_gap_s"] = max(wall_s - s["jobs_union_s"], 0.0)
        s["tasks"] = totals.tasks
        s["executor_run_s"] = totals.run_ms / 1e3
        s["executor_cpu_s"] = totals.cpu_ns / 1e9
        s["gc_s"] = totals.gc_ms / 1e3
        s["shuffle_read_mb"] = totals.shuffle_read_b / MB
        s["shuffle_write_mb"] = totals.shuffle_write_b / MB
        s["spill_mb"] = totals.spill_b / MB
        s["scan_mb"] = totals.scan_b / MB
        s["output_mb"] = totals.output_b / MB
    return outside
