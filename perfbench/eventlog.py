"""Fold a Spark event log into per-query layer rows.

The traced run tags every job with a job group named
``<pass>|<query>|<phase>`` (phase ``construct``, ``execute`` or
``build``). Stages inherit the group of the job that submitted them,
and tasks the group of their stage, so every job, stage and task of the
timed loop lands in exactly one group. Jobs outside any group (set-up,
warm-up) are ignored.
"""

from __future__ import annotations

import collections
import json

#: Physical operators that hand rows to Python workers; a stage whose
#: RDD scopes name one of these spends its task time at the
#: Python/Arrow boundary.
PYTHON_OPERATORS = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonUDTF",
)

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "python_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)


def group_id(pass_no: int, query: str, phase: str) -> str:
    return f"{pass_no}|{query}|{phase}"


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if not scope:
            continue
        name = json.loads(scope).get("name", "")
        if any(op in name for op in PYTHON_OPERATORS):
            return True
    return False


def fold_groups(event_log: str) -> dict[str, dict]:
    """Group id -> counters plus ``intervals``, the (start, end) epoch
    seconds of each job."""
    groups: dict[str, dict] = collections.defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0) | {"intervals": {}}
    )
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    python_stage: dict[int, bool] = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                job_group[ev["Job ID"]] = g
                groups[g]["jobs"] += 1
                groups[g]["intervals"][ev["Job ID"]] = [
                    ev["Submission Time"] / 1e3,
                    None,
                ]
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g is not None:
                    groups[g]["intervals"][ev["Job ID"]][1] = (
                        ev["Completion Time"] / 1e3
                    )
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = g
                python_stage[sid] = _is_python_stage(ev["Stage Info"])
                groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = stage_group.get(sid)
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                r = groups[g]
                r["tasks"] += 1
                run_s = m["Executor Run Time"] / 1e3
                r["run_s"] += run_s
                r["cpu_s"] += m["Executor CPU Time"] / 1e9
                r["gc_s"] += m["JVM GC Time"] / 1e3
                if python_stage[sid]:
                    r["python_s"] += run_s
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                r["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    for r in groups.values():
        r["intervals"] = [tuple(iv) for iv in r["intervals"].values() if iv[1]]
    return dict(groups)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_rows(executions: list[dict], groups: dict[str, dict]) -> list[dict]:
    """One row per timed operation: its Python-side times joined with
    the event-log counters of its job groups. Job, stage and task counts
    are kept per phase; executor counters are summed over phases.
    ``driver_gap_s`` is wall time covered by none of the operation's
    jobs (plan building, Python work, scheduling between jobs), and
    ``outside_s`` is job time falling outside the operation's measured
    window, which is 0 when the split reconciles with wall time."""
    rows = []
    for ex in executions:
        row = dict(ex) | dict.fromkeys(COUNTERS[3:], 0.0)
        ivs = []
        for phase in ("construct", "execute", "build"):
            g = groups.get(group_id(ex["pass"], ex["query"], phase))
            if g is None:
                continue
            ivs += g["intervals"]
            for c in COUNTERS[:3]:
                row[f"{phase}_{c}"] = g[c]
            for c in COUNTERS[3:]:
                row[c] += g[c]
        busy = union_length(ivs, ex["t0"], ex["t1"])
        row["driver_gap_s"] = ex["latency_s"] - busy
        row["outside_s"] = union_length(ivs, float("-inf"), float("inf")) - busy
        rows.append(row)
    return rows
