"""Per-operation layer records from Spark's own event log.

A traced run starts its session with ``spark.eventLog.enabled`` and tags
every operation with two job groups (``<op>|b`` while the plan is built,
``<op>|x`` while it runs). This module reads the finished log and joins
jobs, stages and tasks to the operation spans the worker recorded.
Jobs a streaming query fires carry the query's own group; they, and any
job without a known group, go to the operation whose span contains the
job's submission time.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_COUNTERS = ("task_run_ms", "task_cpu_ns", "gc_ms", "shuffle_write_b",
             "shuffle_read_b", "spill_b", "python_ms", "tasks")
PYTHON_TIME_METRIC = "time to run Python workers"


def _lines(log_dir: str):
    """Every event of the one application logged under ``log_dir``, in
    order; the log is a single file or a rolling ``eventlog_v2_*``
    directory of ``events_<n>_*`` files."""
    (entry,) = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    path = os.path.join(log_dir, entry)
    files = [path]
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    for name in files:
        with open(name) as f:
            yield from f


def read_events(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(_COUNTERS, 0) | {"completed": False})
    for line in _lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"id": ev["Job ID"], "group": props.get("spark.jobGroup.id"),
                                  "submit": ev["Submission Time"] / 1000.0,
                                  "end": None, "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages[info["Stage ID"]]
            st["completed"] = True
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    st["python_ms"] += int(acc.get("Value") or 0)
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["task_run_ms"] += m.get("Executor Run Time", 0)
            st["task_cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return jobs, dict(stages)


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(ops: list[dict], jobs: dict, stages: dict) -> None:
    """Add layer fields to each op record in place.

    Per operation: ``jobs``/``build_jobs``, ``stages``, the task counters,
    ``job_union_s`` (union of all its jobs' intervals), ``driver_gap_s``
    (wall minus that union) and the three-way split
    ``build_s + exec_job_union_s + exec_gap_s == wall_s``, where the exec
    terms cover only the execute phase. ``plan_s`` is the time from the
    execute call to its first job: optimisation, physical planning and
    adaptive-execution setup before any task runs.
    """
    by_id = {op["id"]: op for op in ops}
    # a stage a later job reuses is listed by both jobs but ran once
    stage_owner: dict[int, int] = {}
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        for sid in job["stages"]:
            stage_owner.setdefault(sid, job["id"])
    spans = sorted((op["t0"], op["t2"], op["id"]) for op in ops)
    owned: dict[str, list[tuple[str, dict]]] = defaultdict(list)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
        op_id, _, phase = (job["group"] or "").partition("|")
        if op_id not in by_id:
            phase = "x"
            op_id = next((i for a, b, i in spans if a <= job["submit"] <= b), None)
            if op_id is None:
                continue
        owned[op_id].append((phase, job))
    for op in ops:
        mine = owned.get(op["id"], [])
        counters = dict.fromkeys(_COUNTERS, 0)
        n_stages = 0
        for _phase, job in mine:
            for sid in job["stages"]:
                st = stages.get(sid)
                if st and st["completed"] and stage_owner[sid] == job["id"]:
                    n_stages += 1
                    for k in _COUNTERS:
                        counters[k] += st[k]
        clip = [(max(j["submit"], op["t0"]), min(j["end"], op["t2"])) for _p, j in mine]
        exec_clip = [(max(j["submit"], op["t1"]), min(j["end"], op["t2"]))
                     for p, j in mine if p == "x"]
        job_union = union_s([c for c in clip if c[1] > c[0]])
        exec_union = union_s([c for c in exec_clip if c[1] > c[0]])
        first_exec = min((j["submit"] for p, j in mine if p == "x" and j["submit"] >= op["t1"]),
                         default=None)
        op.update(counters)
        op.update(
            jobs=len(mine), build_jobs=sum(1 for p, _ in mine if p == "b"), stages=n_stages,
            job_union_s=job_union, driver_gap_s=op["wall_s"] - job_union,
            exec_job_union_s=exec_union, exec_gap_s=op["exec_s"] - exec_union,
            plan_s=(first_exec - op["t1"]) if first_exec is not None else 0.0,
        )


def module_records(ops: list[dict], warm: set[int]) -> dict[str, dict]:
    """Per-module totals over the warm passes, divided by their count."""
    n = max(1, len(warm))
    keys = ("wall_s", "build_s", "exec_job_union_s", "exec_gap_s", "job_union_s",
            "driver_gap_s", "plan_s", "jobs", "build_jobs", "stages") + _COUNTERS
    out: dict[str, dict] = {}
    for op in ops:
        if op["pass"] in warm:
            rec = out.setdefault(op["module"], dict.fromkeys(keys, 0) | {"ops": 0})
            rec["ops"] += 1
            for k in keys:
                rec[k] += op.get(k, 0)
    for rec in out.values():
        for k in keys + ("ops",):
            rec[k] /= n
    return out
