"""Per-layer figures from a Spark event log, attributed to benchmark spans.

The event log is Spark's own record of every job and task. A task belongs
to the span whose [start, end] window holds its launch time; spans never
overlap because the benchmark makes one call at a time. Inside a
run_pipeline span, the six pipeline stages are cut into windows by the
stage's manifest append (each stage ends with one) and the wall_s that
run_pipeline returns for it.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def load(path: Path) -> dict:
    tasks, jobs, sql = [], [], {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                acc = defaultdict(int)
                for a in info.get("Accumulables", []):
                    if a.get("Name") in (PY_RUN, PY_SENT, PY_RECV):
                        acc[a["Name"]] += int(a.get("Update") or 0)
                shuffle = m.get("Shuffle Write Metrics", {})
                tasks.append({
                    "launch": info["Launch Time"],
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0),
                    "shuffle": shuffle.get("Shuffle Bytes Written", 0),
                    "py_ms": acc[PY_RUN],
                    "arrow": acc[PY_SENT] + acc[PY_RECV],
                })
            elif kind == "SparkListenerJobStart":
                jobs.append([e["Submission Time"], None, e["Job ID"]])
            elif kind == "SparkListenerJobEnd":
                for j in jobs:
                    if j[2] == e["Job ID"]:
                        j[1] = e["Completion Time"]
            elif kind.endswith("SQLExecutionStart"):
                sql[e["executionId"]] = {
                    "start": e["time"], "end": None,
                    "plan": e.get("physicalPlanDescription", "")}
            elif kind.endswith("SQLExecutionEnd"):
                if e["executionId"] in sql:
                    sql[e["executionId"]]["end"] = e["time"]
    return {"tasks": tasks,
            "jobs": [(s, c) for s, c, _ in jobs if c is not None],
            "sql": sorted((v for v in sql.values() if v["end"]),
                          key=lambda v: v["start"])}


def _covered_ms(jobs, t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of job intervals."""
    iv = sorted((max(s, t0), min(c, t1)) for s, c in jobs
                if c > t0 and s < t1)
    total, end = 0.0, t0
    for s, c in iv:
        s = max(s, end)
        if c > s:
            total += c - s
            end = c
    return total


def window_stats(log: dict, t0: float, t1: float) -> dict:
    """Layer figures for everything Spark ran in [t0, t1] (epoch ms)."""
    tasks = [t for t in log["tasks"] if t0 <= t["launch"] <= t1]
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        skew = max(heavy) / med if med > 0 else 1.0
    covered = _covered_ms(log["jobs"], t0, t1)
    return {
        "wall_s": (t1 - t0) / 1000,
        "jobs": sum(1 for s, _ in log["jobs"] if t0 <= s <= t1),
        "tasks": len(tasks),
        "task_s": sum(t["run_ms"] for t in tasks) / 1000,
        "skew": skew,
        "shuffle_bytes": sum(t["shuffle"] for t in tasks),
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        "spill_bytes": sum(t["spill"] for t in tasks),
        "python_s": sum(t["py_ms"] for t in tasks) / 1000,
        "arrow_bytes": sum(t["arrow"] for t in tasks),
        "driver_s": (t1 - t0 - covered) / 1000,
    }


def pipeline_windows(log: dict, span: dict) -> list[tuple[str, float, float]]:
    """[(stage, t0, t1)] for the stages of one run_pipeline span, plus a
    leading ('layout', ...) window for the layout job before them."""
    man = f"{span['workdir']}/manifest"
    appends = [q for q in log["sql"]
               if span["start_ms"] <= q["start"] <= span["end_ms"]
               and "InsertIntoHadoopFsRelationCommand" in q["plan"]
               and man in q["plan"] and "Append" in q["plan"]]
    wins, prev_end = [], None
    for st in span["stages"]:
        wall_ms = st["wall_s"] * 1000
        if st["units_run"] > 0 and appends:
            q = appends.pop(0)
            # run_stage measures wall_s up to the manifest append
            t0, t1 = q["start"] - wall_ms, q["end"]
        else:
            t0 = prev_end if prev_end is not None else span["start_ms"]
            t1 = t0 + wall_ms
        wins.append((st["stage"], t0, t1))
        prev_end = t1
    first = wins[0][1] if wins else span["end_ms"]
    return [("layout", span["start_ms"], first)] + wins
