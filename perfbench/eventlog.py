"""Per-job-group engine counters from a Spark event log.

Every job carries its job group in its properties, and the benchmark
tags each layer call with one (``spark.jobGroup.id``). This module
folds the log's job, stage, task and SQL-metric events into one counter
record per group. It reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = ("org.apache.spark.sql.execution.ui."
           "SparkListenerSQLAdaptiveExecutionUpdate")
SQL_DRIVER_ACCUM = ("org.apache.spark.sql.execution.ui."
                    "SparkListenerDriverAccumUpdates")

#: driver-side SQL metrics of a file scan, by the name Spark gives them
SCAN_METRICS = {
    "number of files read": "scan_files",
    "number of partitions read": "scan_partitions",
}

COUNTERS = ("jobs", "stages", "tasks", "task_cpu_ms", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "input_rows",
            *SCAN_METRICS.values())


def _scan_accums(plan: dict, out: dict) -> None:
    """accumulator id -> counter name, for every file scan node."""
    if plan.get("nodeName", "").startswith("Scan "):
        for m in plan.get("metrics", []):
            name = SCAN_METRICS.get(m.get("name"))
            if name:
                out[m["accumulatorId"]] = name
    for child in plan.get("children", []):
        _scan_accums(child, out)


def _log_files(log_dir: str) -> list:
    return sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir)
                  if not f.startswith("."))


def group_counters(log_dir: str) -> dict:
    """{job group: {counter: total}} over every event log in ``log_dir``."""
    stage_group = {}  # stage id -> group
    exec_group = {}  # SQL execution id -> group
    accum_name = {}  # accumulator id -> scan counter name
    accum_exec = {}  # accumulator id -> SQL execution id
    driver_accum = defaultdict(float)  # accumulator id -> summed updates
    out = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "(none)"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "(none)")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = out[stage_group.get(ev["Stage ID"], "(none)")]
                    _add_task(rec, ev.get("Task Metrics") or {})
                elif kind in (SQL_START, SQL_AQE):
                    found = {}
                    _scan_accums(ev.get("sparkPlanInfo") or {}, found)
                    accum_name.update(found)
                    for aid in found:
                        accum_exec[aid] = ev["executionId"]
                elif kind == SQL_DRIVER_ACCUM:
                    for aid, value in ev.get("accumUpdates", []):
                        driver_accum[aid] += float(value)
    for aid, name in accum_name.items():
        group = exec_group.get(accum_exec[aid], "(none)")
        out[group][name] += int(driver_accum.get(aid, 0.0))
    return {g: dict(rec) for g, rec in out.items()}


def _add_task(rec: dict, tm: dict) -> None:
    rec["tasks"] += 1
    rec["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
    rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    inp = tm.get("Input Metrics") or {}
    rec["input_bytes"] += inp.get("Bytes Read", 0)
    rec["input_rows"] += inp.get("Records Read", 0)


def total(groups: dict, prefix: str) -> dict:
    """Sum the records of every group named ``prefix`` or ``prefix.*``."""
    acc = dict.fromkeys(COUNTERS, 0)
    for g, rec in groups.items():
        if g == prefix or g.startswith(prefix + "."):
            for k in COUNTERS:
                acc[k] += rec.get(k, 0)
    return acc
