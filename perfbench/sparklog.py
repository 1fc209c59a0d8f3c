"""Spark runtime metrics from a local event log.

The traced run starts Spark with ``spark.eventLog.enabled`` and a
per-run ``spark.eventLog.dir``. After the session stops, this module
reads the log back: jobs with their job group (set by the tracer to the
span that launched them), stages, and task metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    stages: list[int]
    start_ms: int
    end_ms: int = 0


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    busy_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    wait_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    run_times: list[float] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageTotals]


def read_event_log(log_dir: str) -> EventLog | None:
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files.
    files = sorted(
        os.path.join(d, f)
        for d, _dirs, names in os.walk(log_dir)
        for f in names
        if f.startswith(("events_", "local-"))
    )
    if not files:
        return None
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    submit: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        stages=list(ev.get("Stage IDs", [])),
                        start_ms=ev.get("Submission Time", 0),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    submit[info["Stage ID"]] = info.get("Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], StageTotals()), ev, submit.get(ev["Stage ID"]))
    return EventLog(jobs=jobs, stages=stages)


def _add_task(st: StageTotals, ev: dict, submitted_ms: int | None) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Failed"):
        st.failed_tasks += 1
    run_ms = float(m.get("Executor Run Time", 0))
    st.busy_ms += run_ms
    st.run_times.append(run_ms)
    st.cpu_ns += float(m.get("Executor CPU Time", 0))
    st.gc_ms += float(m.get("JVM GC Time", 0))
    if submitted_ms:
        st.wait_ms += max(0, info.get("Launch Time", submitted_ms) - submitted_ms)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
    st.spill += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))


def runtime_metrics(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Totals over ``jobs`` (each stage counted once)."""
    stage_ids = sorted({s for j in jobs for s in j.stages if s in log.stages})
    totals = [log.stages[s] for s in stage_ids]
    skews = [
        max(t.run_times) / statistics.fmean(t.run_times)
        for t in totals
        if len(t.run_times) >= 2 and statistics.fmean(t.run_times) > 0
    ]
    return {
        "spark.exec_s": sum(max(0, j.end_ms - j.start_ms) for j in jobs) / 1e3,
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.tasks": sum(t.tasks for t in totals),
        "spark.task_busy_s": sum(t.busy_ms for t in totals) / 1e3,
        "spark.task_cpu_s": sum(t.cpu_ns for t in totals) / 1e9,
        "spark.scheduler_wait_s": sum(t.wait_ms for t in totals) / 1e3,
        "spark.gc_s": sum(t.gc_ms for t in totals) / 1e3,
        "spark.shuffle_read_bytes": sum(t.shuffle_read for t in totals),
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in totals),
        "spark.spill_bytes": sum(t.spill for t in totals),
        "spark.task_skew": max(skews) if skews else 1.0,
        "spark.failed_tasks": sum(t.failed_tasks for t in totals),
    }
