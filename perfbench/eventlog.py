"""Fold a Spark event log (uncompressed JSON lines) into per-job counters.

Per job: the submission time and the sum over its tasks of executor run,
CPU and GC time, shuffle bytes, and the Python-worker SQL metrics (data
sent to / returned from the workers, worker start + initialize time).
SQL metric units come from the plans' ``metricType`` (``timing`` is ms,
``nsTiming`` ns, ``size`` bytes).
"""

from __future__ import annotations

import json
import os
import re
from typing import Dict, Iterable, List

MIB = 1024.0 * 1024.0

# SQL accumulable name -> (counter, kind); kind picks the unit conversion
_SQL_METRICS = {
    "data sent to Python workers": ("python_sent_mib", "size"),
    "data returned from Python workers": ("python_returned_mib", "size"),
    "time to start Python workers": ("python_worker_init_s", "timing"),
    "time to initialize Python workers": ("python_worker_init_s", "timing"),
}

COUNTERS = ("jobs", "stages", "executor_run_s", "executor_cpu_s",
            "jvm_gc_s", "shuffle_write_mib", "shuffle_read_mib",
            "python_sent_mib", "python_returned_mib", "python_worker_init_s")


def _plan_metric_types(plan: Dict, out: Dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for c in plan.get("children", []):
        _plan_metric_types(c, out)


def _convert(value: float, metric_type: str) -> float:
    if metric_type == "size":
        return value / MIB
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return value


def fold(events: Iterable[Dict]) -> List[Dict]:
    """``[{"job_id", "submit_s", "counters": {...}}]`` in submission order."""
    metric_types: Dict[int, str] = {}
    jobs: Dict[int, Dict] = {}
    stage_job: Dict[int, int] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith(("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_metric_types(e.get("sparkPlanInfo", {}), metric_types)
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"job_id": jid, "submit_s": e["Submission Time"] / 1e3,
                         "counters": dict.fromkeys(COUNTERS, 0.0)}
            jobs[jid]["counters"]["jobs"] = 1.0
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageSubmitted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["counters"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            c = jobs[jid]["counters"]
            tm = e.get("Task Metrics") or {}
            c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / MIB
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read_mib"] += (sr.get("Local Bytes Read", 0)
                                      + sr.get("Remote Bytes Read", 0)) / MIB
            for acc in e.get("Task Info", {}).get("Accumulables", []):
                spec = _SQL_METRICS.get(acc.get("Name"))
                if spec is None or acc.get("Update") is None:
                    continue
                counter, default_type = spec
                mtype = metric_types.get(acc.get("ID"), default_type)
                c[counter] += _convert(float(acc["Update"]), mtype)
    return sorted(jobs.values(), key=lambda j: (j["submit_s"], j["job_id"]))


def _event_files(log_dir: str) -> List[str]:
    """The event files of every application logged under ``log_dir``:
    rolling (``eventlog_v2_<app>/events_<n>_<app>``, in ``n`` order) or
    single-file logs."""
    out: List[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            out.extend(os.path.join(path, f) for f in parts)
        elif not name.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str):
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)
