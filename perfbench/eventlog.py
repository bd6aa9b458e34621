"""Per-job-group counters from a Spark event log.

Reads the uncompressed, non-rolling JSON-lines log that a session writes
with ``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``
and ``spark.eventLog.rolling.enabled=false``. Each job is attributed to
the ``spark.jobGroup.id`` it was submitted under; each task to the job
that owns its stage (a stage shared by several jobs counts for the first).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

#: the Python-worker accumulable that measures task run time (the
#: "initialize" one accumulates over a reused worker's lifetime)
PYTHON_RUN = "time to run Python workers"

COUNTERS = (
    "jobs", "tasks", "input_bytes", "shuffle_bytes", "jvm_cpu_ms",
    "python_run_ms", "gc_ms", "fetch_wait_ms", "task_skew", "spill_bytes",
    "failed_tasks",
)


#: counts of work that repeat exactly between runs on the same input
WORK_COUNTS = ("jobs", "tasks", "input_bytes", "shuffle_bytes")


def unit(counter: str) -> str:
    """Unit of a counter, or of a ``*_s`` span time."""
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_bytes", "bytes")):
        if counter.endswith(suffix):
            return u
    return "ratio" if counter == "task_skew" else "count"


def empty() -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    out["task_skew"] = 1.0
    return out


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _python_run_ms(task_info: dict) -> float:
    """The task's ``time to run Python workers`` update (milliseconds)."""
    return sum(
        float(acc["Update"])
        for acc in task_info.get("Accumulables", ())
        if acc.get("Name") == PYTHON_RUN and acc.get("Update") is not None
    )


def _skew(durations: list[float]) -> float:
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def counters_by_group(events) -> dict[str, dict]:
    """``{job group: counters}`` over every job in ``events``; jobs
    submitted without a group land under ``""``.

    ``task_skew`` is the per-stage ratio of the longest task to the median
    task, averaged over the group's multi-task stages weighted by each
    stage's summed task time (so a long fit stage counts more than a
    short scan); 1.0 when the group has no multi-task stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(empty)
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            c = out[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            c["jvm_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["python_run_ms"] += _python_run_ms(info)
            if info.get("Finish Time") and info.get("Launch Time"):
                stage_tasks[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    weighted: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for sid, durs in stage_tasks.items():
        if len(durs) > 1:
            weighted[stage_group.get(sid, "")].append((sum(durs), _skew(durs)))
    for group, pairs in weighted.items():
        total = sum(w for w, _ in pairs)
        if total > 0:
            out[group]["task_skew"] = sum(w * s for w, s in pairs) / total
    return dict(out)


#: the SQL metric that counts a plan node's output rows
OUTPUT_ROWS = "number of output rows"


def plan_nodes(plan: dict):
    """Every node of a ``sparkPlanInfo`` tree, parents before children."""
    yield plan
    for child in plan.get("children", ()):
        yield from plan_nodes(child)


def plan_rows(events, select) -> dict[str, int]:
    """``{job group: rows}`` output by the SQL plan nodes that ``select``
    picks, summed over the tasks and driver-side updates of each group's
    SQL executions.

    ``select(plan)`` gets each physical plan an execution logged (at its
    start and at every adaptive re-plan) and returns the nodes to count;
    a node keeps its metric ids across re-plans, so none counts twice."""
    events = list(events)
    group_of: dict[int, str] = {}
    plans: list[tuple[int, dict]] = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if "spark.sql.execution.id" in props:
                group_of.setdefault(
                    int(props["spark.sql.execution.id"]),
                    props.get("spark.jobGroup.id") or "",
                )
        elif kind.endswith("SQLExecutionStart"):
            if ev.get("jobGroupId") is not None:
                group_of[ev["executionId"]] = ev["jobGroupId"]
            plans.append((ev["executionId"], ev["sparkPlanInfo"]))
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans.append((ev["executionId"], ev["sparkPlanInfo"]))
    metric_group: dict[int, str] = {}
    for exec_id, plan in plans:
        for node in select(plan):
            for m in node.get("metrics", ()):
                if m["name"] == OUTPUT_ROWS:
                    metric_group[m["accumulatorId"]] = group_of.get(exec_id, "")
    out: dict[str, int] = defaultdict(int)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerTaskEnd":
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("ID") in metric_group and acc.get("Update") is not None:
                    out[metric_group[acc["ID"]]] += int(acc["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                if acc_id in metric_group:
                    out[metric_group[acc_id]] += int(value)
    return dict(out)
