"""Reads Spark's JSON event log and attributes its jobs to query time windows.

Jobs are attributed by submission time, not by job group: the benchmark's loop
runs one query at a time, and jobs the engine submits from its own thread pools
carry no job group. The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class Job:
    job_id: int
    submit_s: float
    end_s: float = 0.0


@dataclass
class Stage:
    stage_id: int
    submit_s: float = 0.0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    #: (start time in s, InMemoryTableScan nodes in the executed plan)
    sql_executions: list[tuple[float, int]] = field(default_factory=list)


def _count_nodes(plan: dict, name: str) -> int:
    n = 1 if plan.get("nodeName") == name else 0
    return n + sum(_count_nodes(c, name) for c in plan.get("children", ()))


def parse(lines) -> EventLog:
    """Parse event-log lines (an open file or any iterable of JSON strings)."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_s = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind == SQL_START:
            log.sql_executions.append(
                (ev["time"] / 1000.0, _count_nodes(ev.get("sparkPlanInfo", {}), "InMemoryTableScan"))
            )
    return log


def read(event_dir: str) -> EventLog:
    """Parse the single application log Spark wrote into ``event_dir``."""
    names = sorted(n for n in os.listdir(event_dir) if not n.startswith("."))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    with open(os.path.join(event_dir, names[0])) as f:
        return parse(f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def window_stats(log: EventLog, lo: float, hi: float) -> dict[str, float]:
    """Engine totals for the window ``[lo, hi]``: jobs submitted in it, stages
    that ran in it (skipped ones never run), their tasks, task CPU and
    shuffle/spill/output bytes, InMemoryTableScan nodes of the SQL executions
    started in it, and the part of the window outside every job."""
    jobs = [j for j in log.jobs.values() if lo <= j.submit_s <= hi]
    stages = [s for s in log.stages.values() if lo <= s.submit_s <= hi]
    in_jobs = _covered([(max(lo, j.submit_s), min(hi, j.end_s or hi)) for j in jobs])
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "task_cpu_s": sum(s.cpu_s for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "output_bytes": sum(s.output_bytes for s in stages),
        "scan_hits": sum(n for t, n in log.sql_executions if lo <= t <= hi),
        "driver_gap_s": (hi - lo) - in_jobs,
    }
