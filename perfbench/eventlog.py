"""Spark event-log parser: executor and Python-worker totals per job group.

The log is the JSON-lines file Spark writes with ``spark.eventLog.enabled``
(uncompressed, not rolled). Jobs are mapped to their job group through the
``spark.jobGroup.id`` property of ``SparkListenerJobStart``; every
``SparkListenerTaskEnd`` is charged to the group of the job that owns its
stage. Python-worker figures are the SQL metric accumulables the Arrow and
pandas UDF operators publish ("time to run Python workers", ...).
"""

from __future__ import annotations

import json
from collections import defaultdict

# SQL metric name -> counter; the three timings are milliseconds
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
EXEC_METRICS = (
    "exec.executor_run_ms",
    "exec.executor_cpu_ms",
    "exec.gc_ms",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
)
COUNTERS = EXEC_METRICS + tuple(PYTHON_METRICS.values())


def _task_totals(event: dict) -> dict[str, float]:
    m = event.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    out = {
        "exec.executor_run_ms": m.get("Executor Run Time", 0),
        "exec.executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "exec.gc_ms": m.get("JVM GC Time", 0),
        "exec.shuffle_read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        "exec.shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
        "exec.spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            out[key] = out.get(key, 0) + float(acc.get("Update") or 0)
    return out


def group_totals(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over an iterable of event-log lines.

    Tasks of jobs without a group are charged to the group ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            row = totals[stage_group.get(ev.get("Stage ID"), "")]
            for k, v in _task_totals(ev).items():
                row[k] += v
    return dict(totals)


def read_group_totals(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as fh:
        return group_totals(fh)
