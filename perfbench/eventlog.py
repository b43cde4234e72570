"""Spark event-log parser with attribution by time window.

Spark's event log (``spark.eventLog.enabled``) is one JSON object per
line. This module folds it into jobs, stages, task metrics and SQL
plans, then attributes each job to the caller's time window that holds
the job's submission time. Attribution by window, not by job group,
also catches the jobs that streaming micro-batches launch on their own
stream threads, which never carry the caller's job group.

Windows are ``(key, start_ms, end_ms)`` in epoch milliseconds, the clock
the event log uses. Several windows may share a key; their counts add.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

MB = 1024.0 * 1024.0

# Executed-plan node names that run Python (UDFs, pandas/Arrow maps,
# UDTFs) in a Python worker.
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# Counters every attribution carries, zero when nothing ran.
COUNTERS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "scan_nodes",
    "python_nodes",
)


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_counts(info: dict) -> tuple[int, int]:
    """(parquet scan nodes, Python-eval nodes) in a SparkPlanInfo tree."""
    scans = pyn = 0
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name.startswith("Scan parquet"):
            scans += 1
        if _PYTHON_NODE.search(name):
            pyn += 1
        stack.extend(node.get("children", ()))
    return scans, pyn


def fold(events: list[dict]) -> dict:
    """Fold raw events into ``jobs`` (id -> submit_ms, stage ids, stages
    run) and per-stage task totals, plus ``sql`` executions with the
    plan counts of their last adaptive re-plan."""
    jobs: dict[int, dict] = {}
    active: dict[int, set] = {}  # job id -> stage ids still expected
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    sql: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            ids = set(ev.get("Stage IDs", ()))
            jobs[jid] = {"submit_ms": ev["Submission Time"], "stage_ids": ids, "ran": set()}
            active[jid] = ids
        elif kind == "SparkListenerJobEnd":
            active.pop(ev["Job ID"], None)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            # A stage runs on behalf of the earliest active job that
            # lists it; later jobs that list it find it done (skipped).
            for jid in sorted(active):
                if sid in active[jid]:
                    jobs[jid]["ran"].add(sid)
                    stage_job.setdefault(sid, jid)
                    break
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = stage_tasks[ev["Stage ID"]]
            t["tasks"] += 1
            t["executor_run_ms"] += m.get("Executor Run Time", 0)
            t["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        elif kind == _SQL_START:
            sql[ev["executionId"]] = {
                "time_ms": ev["time"],
                "counts": _plan_counts(ev.get("sparkPlanInfo") or {}),
            }
        elif kind == _SQL_AQE and ev.get("executionId") in sql:
            sql[ev["executionId"]]["counts"] = _plan_counts(ev.get("sparkPlanInfo") or {})
    return {"jobs": jobs, "stage_job": stage_job, "stage_tasks": dict(stage_tasks), "sql": sql}


def _key_for(windows: list[tuple[str, float, float]], t_ms: float) -> str | None:
    for key, start, end in windows:
        if start <= t_ms <= end:
            return key
    return None


def attribute(folded: dict, windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Counters per window key. Jobs go to the window holding their
    submission time; a job's stages and tasks follow it. SQL executions
    go to the window holding their start time; the first matching
    window wins. Anything outside every window is summed under ``None``."""
    out: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for jid, job in folded["jobs"].items():
        acc = out[_key_for(windows, job["submit_ms"])]
        acc["jobs"] += 1
        acc["stages"] += len(job["ran"])
        acc["stages_skipped"] += len(job["stage_ids"] - job["ran"])
    for sid, totals in folded["stage_tasks"].items():
        jid = folded["stage_job"].get(sid)
        when = folded["jobs"][jid]["submit_ms"] if jid is not None else float("nan")
        acc = out[_key_for(windows, when)]
        for name, v in totals.items():
            acc[name] += v
    for ex in folded["sql"].values():
        acc = out[_key_for(windows, ex["time_ms"])]
        scans, pyn = ex["counts"]
        acc["scan_nodes"] += scans
        acc["python_nodes"] += pyn
    return dict(out)


def count_jobs_in(folded: dict, spans: list[tuple[float, float]]) -> int:
    """Jobs whose submission time falls inside any of ``spans``."""
    return sum(
        1
        for job in folded["jobs"].values()
        if any(s <= job["submit_ms"] <= e for s, e in spans)
    )
