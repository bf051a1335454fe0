"""Spark event-log reader: per-task counters, job starts and SQL plans.

The benchmark's traced session writes an uncompressed, non-rolling event log
(``EVENTLOG_CONF``). Each ``SparkListenerTaskEnd`` carries the task's core
metrics plus the SQL metric updates ("time to run Python workers", "scan
time", "task commit time", ...). SQL metric units come from the plan's
metric types (``timing`` is ms, ``nsTiming`` ns, ``size`` bytes), which the
``SQLExecutionStart`` / adaptive-update events declare per accumulator id.
Times below are seconds, sizes bytes.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field
from pathlib import Path

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"

# SQL accumulator names the benchmark reports, keyed to short counter names
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "scan time": "scan_s",
    "task commit time": "task_commit_s",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_s: float
    sql: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    tasks: list[Task] = field(default_factory=list)
    job_starts: list[float] = field(default_factory=list)  # epoch seconds
    plans: list[tuple[float, str]] = field(default_factory=list)  # (epoch s, physical plan)

    def window(self, lo: float, hi: float) -> "EventLog":
        """Tasks launched, jobs submitted and plans started within [lo, hi]."""
        return EventLog(
            [t for t in self.tasks if lo <= t.launch <= hi],
            [j for j in self.job_starts if lo <= j <= hi],
            [p for p in self.plans if lo <= p[0] <= hi],
        )


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "sum")
    for c in info.get("children", []):
        _plan_metrics(c, out)


def parse_lines(lines) -> EventLog:
    log = EventLog()
    acc_types: dict[int, str] = {}  # accumulator id -> SQL metric type
    pending: list[tuple[dict, Task]] = []
    last_plan_time = 0.0
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.job_starts.append(ev["Submission Time"] / 1000.0)
        elif kind == _SQL_START:
            last_plan_time = ev["time"] / 1000.0
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_types)
            log.plans.append((last_plan_time, ev.get("physicalPlanDescription", "")))
        elif kind == _SQL_AQE:
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_types)
            log.plans.append((last_plan_time, ev.get("physicalPlanDescription", "")))
        elif kind == _SQL_AQE_METRICS:
            for m in ev.get("sqlPlanMetrics", []):
                acc_types[m["accumulatorId"]] = m.get("metricType", "sum")
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            task = Task(
                stage=ev["Stage ID"],
                launch=info["Launch Time"] / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                shuffle_read_bytes=rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0),
                fetch_wait_s=rd.get("Fetch Wait Time", 0) / 1000.0,
            )
            log.tasks.append(task)
            pending.append((info, task))
    # SQL metric types may be declared after a task that updates them (AQE
    # re-plans), so accumulables are resolved once the whole log is read
    for info, task in pending:
        for a in info.get("Accumulables", []):
            short = SQL_METRICS.get(a.get("Name"))
            if short is None or "Update" not in a:
                continue
            scale = _SCALE.get(acc_types.get(a.get("ID"), "sum"), 1.0)
            task.sql[short] = task.sql.get(short, 0.0) + float(a["Update"]) * scale
    return log


def read_dir(log_dir: str | Path) -> EventLog:
    """Parse every finished event-log file under ``log_dir``."""
    merged = EventLog()
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.endswith(".inprogress") or name.startswith("."):
                continue
            with open(os.path.join(root, name)) as f:
                part = parse_lines(f)
            merged.tasks += part.tasks
            merged.job_starts += part.job_starts
            merged.plans += part.plans
    return merged


def counters(log: EventLog) -> dict[str, float]:
    """Executor totals over the log's tasks."""
    tasks = log.tasks
    out = {
        "tasks": len(tasks),
        "jobs": len(log.job_starts),
        "executor_run_s": sum(t.run_s for t in tasks),
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
        "output_bytes": sum(t.output_bytes for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
    }
    for short in SQL_METRICS.values():
        out[short] = sum(t.sql.get(short, 0.0) for t in tasks)
    return out


def python_stage_skew(log: EventLog) -> float:
    """max / median task run time of the stage that spends the most time in
    Python workers (the extraction stage); 0.0 when no stage ran Python."""
    by_stage: dict[int, list[Task]] = {}
    for t in log.tasks:
        if t.sql.get("python_run_s", 0.0) > 0:
            by_stage.setdefault(t.stage, []).append(t)
    if not by_stage:
        return 0.0
    stage = max(by_stage.values(), key=lambda ts: sum(t.sql["python_run_s"] for t in ts))
    runs = [t.run_s for t in stage]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0
