"""Read Spark's own event log and attribute its jobs, stages and tasks
to the benchmark's spans.

A job belongs to the span whose id is its job group.  Jobs whose group
is not a span id (streaming micro-batches set their own group) fall to
the innermost span open when the job was submitted.  Layer metrics are
then sums over the tasks of a span's subtree.
"""

from __future__ import annotations

import json
import os
import statistics

from harness import union_length

# SQL metric names carried in TaskEnd accumulables (Spark 4.1)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def find_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return os.path.join(log_dir, files[0])


def parse(lines) -> dict:
    """Event-log JSON lines → jobs, stages and per-task figures."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "stages": list(ev["Stage IDs"]),
            }
            for sid in ev["Stage IDs"]:
                stages.setdefault(sid, _new_stage())["job"] = ev["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _new_stage())
            st["submit"] = info.get("Submission Time", 0) / 1000.0
            st["complete"] = info.get("Completion Time", 0) / 1000.0
            st["ran"] = "Submission Time" in info
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _new_stage())
            st["tasks"].append(_task(ev))
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"job": None, "submit": 0.0, "complete": 0.0, "ran": False, "tasks": []}


def _task(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    acc = {}
    for a in info.get("Accumulables") or []:
        if a.get("Name") in (PY_RUN, PY_SENT, PY_RETURNED):
            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "py_run_ms": acc.get(PY_RUN, 0),
        "py_sent": acc.get(PY_SENT, 0),
        "py_returned": acc.get(PY_RETURNED, 0),
    }


def attribute(log: dict, spans: list[dict]) -> dict[str, list[int]]:
    """Span id → ids of the jobs it ran directly (not via children)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, list[int]] = {s["id"]: [] for s in spans}
    for jid, job in sorted(log["jobs"].items()):
        sid = job["group"] if job["group"] in by_id else _innermost(spans, job["submit"])
        if sid is not None:
            out[sid].append(jid)
    return out


def _innermost(spans: list[dict], t: float) -> str | None:
    # event-log times have millisecond resolution: widen by 1 ms
    best = None
    for s in spans:
        if s["start"] - 1e-3 <= t <= s["end"] + 1e-3:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None


def subtree(spans: list[dict], root_id: str) -> list[str]:
    kids: dict[str, list[str]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids.get(sid, []))
    return out


def span_metrics(log: dict, spans: list[dict], jobs_of: dict, root_id: str) -> dict:
    """Figures over every job a span and its descendants ran."""
    root = next(s for s in spans if s["id"] == root_id)
    job_ids = [j for sid in subtree(spans, root_id) for j in jobs_of[sid]]
    stage_ids = sorted(
        {sid for j in job_ids for sid in log["jobs"][j]["stages"]
         if log["stages"].get(sid, {}).get("ran")}
    )
    stages = [log["stages"][s] for s in stage_ids]
    tasks = [t for st in stages for t in st["tasks"]]
    busy = union_length(
        (max(st["submit"], root["start"]), min(st["complete"], root["end"]))
        for st in stages
    )
    return {
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks_failed": sum(t["failed"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1000.0,
        "python_worker_s": sum(t["py_run_ms"] for t in tasks) / 1000.0,
        "python_bytes_in": sum(t["py_sent"] for t in tasks),
        "python_bytes_out": sum(t["py_returned"] for t in tasks),
        "skew": skew(stages),
        "gap_s": (root["end"] - root["start"]) - busy,
    }


def skew(stages: list[dict]) -> float:
    """Max / median task run time of the stage that read the most
    shuffle bytes (1.0 when no stage read a shuffle)."""
    readers = [st for st in stages if sum(t["shuffle_read"] for t in st["tasks"]) > 0]
    if not readers:
        return 1.0
    widest = max(readers, key=lambda st: sum(t["shuffle_read"] for t in st["tasks"]))
    runs = [t["run_ms"] for t in widest["tasks"]]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0
