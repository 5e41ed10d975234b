"""Spark event-log extractor for the traced run.

Reads the uncompressed event log Spark writes with
``spark.eventLog.enabled`` and returns one record per job with its
scheduling, executor, shuffle, spill, scan and Python-worker totals.
Jobs carry their ``spark.jobGroup.id``, which the benchmark sets to the
id of the span that submitted them.
"""

from __future__ import annotations

import glob
import json
import os
import re

# plan nodes whose SQL metrics count Python-worker traffic
_PY_NODE = re.compile(r"MapInArrow|MapInPandas|EvalPython|InPandas|InArrow")


def _files(log_dir: str) -> list[str]:
    """Event files in write order (rolling logs split one app into
    ``events_<n>_<app>`` files inside an ``eventlog_v2_*`` directory)."""
    out = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            out.append(path)
    return out


def _num(x) -> int:
    try:
        return int(x)
    except (TypeError, ValueError):
        return 0


def read_jobs(log_dir: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}  # accumulator id -> python metric kind
    tasks: list[dict] = []
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "id": jid, "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": e["Submission Time"] / 1000.0, "end": None, "failed": False,
                        "stages": 0, "tasks": 0, "failed_tasks": 0, "delay_s": 0.0,
                        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_s": 0.0,
                        "spill": 0, "scan_tasks": 0, "scan_bytes": 0,
                        "py_run_s": 0.0, "py_sent": 0, "py_rows": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(e["Job ID"])
                    if job is not None:
                        job["end"] = e["Completion Time"] / 1000.0
                        job["failed"] = e["Job Result"]["Result"] != "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _python_metrics(e["sparkPlanInfo"], py_acc)
    for e in tasks:
        job = jobs.get(stage_job.get(e["Stage ID"]))
        if job is None:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        job["tasks"] += 1
        job["failed_tasks"] += bool(info.get("Failed"))
        run_ms = m.get("Executor Run Time", 0)
        busy_ms = (m.get("Executor Deserialize Time", 0) + run_ms
                   + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
        job["delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy_ms) / 1000.0
        job["run_s"] += run_ms / 1000.0
        job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
        job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        job["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics") or {}
        if inp.get("Records Read", 0) > 0:
            job["scan_tasks"] += 1
            job["scan_bytes"] += inp.get("Bytes Read", 0)
        py_hit = False
        for acc in info.get("Accumulables", []):
            what = py_acc.get(acc.get("ID"))
            if what is None:
                continue
            py_hit = True
            if what == "sent":
                job["py_sent"] += _num(acc.get("Update"))
            elif what == "rows":
                job["py_rows"] += _num(acc.get("Update"))
        if py_hit:
            job["py_run_s"] += run_ms / 1000.0
    return sorted(jobs.values(), key=lambda j: j["id"])


def _python_metrics(node: dict, out: dict[int, str]) -> None:
    if _PY_NODE.search(node.get("nodeName", "")):
        for metric in node.get("metrics", []):
            name = metric["name"]
            if "sent to Python" in name:
                out[metric["accumulatorId"]] = "sent"
            elif name == "number of output rows":
                out[metric["accumulatorId"]] = "rows"
            else:
                out[metric["accumulatorId"]] = "other"
    for child in node.get("children", []):
        _python_metrics(child, out)
