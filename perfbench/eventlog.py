"""Offline Spark event-log parser for the traced run.

The benchmark tags every Spark job with a job group
``perfbench:<op>:<phase>`` (phase = plan, action or check), so each job,
its stages and its tasks are attributed to one operation and one phase
without touching the library. This module turns a plain-JSON event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
into per-job records and the op → phase → job → stage span tree.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

MB = 1024.0 * 1024.0

_PY_TIME = "time to run Python workers"
_PY_IO = ("data sent to Python workers", "data returned from Python workers")


def _plan_metric_types(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metric_types(child, out)


def _sql_unit(metric_type: str) -> float:
    """Seconds (or bytes) per unit of a SQL metric update."""
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)


def parse(path: str | Path) -> dict:
    """Read one event log. Returns {"jobs": {job_id: {...}}, "storage_mb":
    block-manager storage still held at the end of the log}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    metric_types: dict[int, tuple[str, str]] = {}
    blocks: dict[tuple, int] = {}
    task_rows: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "group": props.get("spark.jobGroup.id"),
                             "start": ev["Submission Time"] / 1e3, "end": None,
                             "stages": []}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "id": info["Stage ID"], "name": info.get("Stage Name"),
                    "start": (info.get("Submission Time") or 0) / 1e3,
                    "end": (info.get("Completion Time") or 0) / 1e3,
                    "tasks": info.get("Number of Tasks")}
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_metric_types(ev.get("sparkPlanInfo", {}), metric_types)
            elif kind == "SparkListenerTaskEnd":
                task_rows.append(ev)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                key = (info["Block Manager ID"]["Executor ID"], info["Block ID"])
                size = info["Memory Size"] + info["Disk Size"]
                if size:
                    blocks[key] = size
                else:
                    blocks.pop(key, None)

    for job in jobs.values():
        job.update(task_s=0.0, gc_s=0.0, shuffle_mb=0.0, spill_mb=0.0,
                   py_s=0.0, py_io_mb=0.0, input_mb=0.0, output_mb=0.0)
    for ev in task_rows:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        if job is None:
            continue
        m = ev.get("Task Metrics") or {}
        job["task_s"] += m.get("Executor Run Time", 0) / 1e3
        job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        job["shuffle_mb"] += sw / MB
        job["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / MB
        job["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        job["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, mtype = metric_types.get(acc.get("ID"), (acc.get("Name"), ""))
            if name == _PY_TIME:
                job["py_s"] += float(acc["Update"]) * _sql_unit(mtype or "timing")
            elif name in _PY_IO:
                job["py_io_mb"] += float(acc["Update"]) / MB
    for sid, st in stages.items():
        if sid in stage_job and stage_job[sid] in jobs:
            jobs[stage_job[sid]]["stages"].append(st)
    return {"jobs": jobs, "storage_mb": sum(blocks.values()) / MB}


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


LAYER_KEYS = ("task_s", "gc_s", "shuffle_mb", "spill_mb", "py_s", "py_io_mb",
              "input_mb", "output_mb")


def attribute(log: dict, spans: list[dict]) -> list[dict]:
    """Join benchmark spans with the parsed log. Each span has ``op`` (int),
    ``t0``/``t_plan``/``t1`` (epoch seconds: start, end of plan, end of
    action). Returns one layer record per span, plus its span tree."""
    by_group: dict[str, list[dict]] = defaultdict(list)
    for job in log["jobs"].values():
        if job["group"] and job["group"].startswith("perfbench:"):
            by_group[job["group"]].append(job)
    out = []
    for sp in spans:
        plan_jobs = by_group.get(f"perfbench:{sp['op']}:plan", [])
        act_jobs = by_group.get(f"perfbench:{sp['op']}:action", [])
        rec = {"plan_s": sp["t_plan"] - sp["t0"], "action_s": sp["t1"] - sp["t_plan"],
               "plan_jobs": len(plan_jobs), "jobs": len(act_jobs)}
        for k in LAYER_KEYS:
            rec[k] = sum(j[k] for j in plan_jobs + act_jobs)
        intervals = [(j["start"], j["end"] or sp["t1"]) for j in act_jobs]
        job_s = _union_s(intervals, sp["t_plan"], sp["t1"])
        rec["job_s"] = job_s
        rec["driver_gap_s"] = max(rec["action_s"] - job_s, 0.0)
        rec["tree"] = {
            "op": sp["op"], "kind": sp["kind"], "name": sp["name"],
            "plan": {"s": rec["plan_s"], "jobs": [_job_tree(j) for j in plan_jobs]},
            "action": {"s": rec["action_s"], "jobs": [_job_tree(j) for j in act_jobs]},
        }
        out.append(rec)
    return out


def _job_tree(job: dict) -> dict:
    return {"job": job["id"], "s": (job["end"] or job["start"]) - job["start"],
            "task_s": round(job["task_s"], 4),
            "stages": [{"stage": s["id"], "s": s["end"] - s["start"],
                        "tasks": s["tasks"]} for s in job["stages"]]}
