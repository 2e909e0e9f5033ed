"""Reduce a Spark event log to per-stage metrics grouped by benchmark layer.

A traced run tags every job it launches: batch spans set the job group to
``<layer>#<round>``; streaming micro-batch jobs carry their query name on the
first line of the job description, and the caller maps query names to
layers.  For every stage the reducer sums the task metrics (executor run and
cpu time, GC, shuffle bytes and records, fetch wait, spill, input and output
bytes), counts failed tasks, keeps the max and median task time, and adds the
SQL metrics of the stage's plan nodes (broadcast size, Python UDF traffic).

    python3 perfbench/eventlog.py <event-log-file>   # prints the reduction as JSON
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

STAGE_KEYS = (
    "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_read_records", "fetch_wait_s",
    "shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
    "output_bytes", "python_udf_s",
)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _layer_of(props: dict, query_layers: dict[str, str]) -> str:
    group = props.get("spark.jobGroup.id") or ""
    if "#" in group:
        return group
    first = (props.get("spark.job.description") or "").strip().split("\n")[0]
    return query_layers.get(first, "untagged")


def reduce(path: str, query_layers: dict[str, str] | None = None) -> dict:
    """``{layer: {"jobs": n, "stages": {stage_id: {...}}, "sql": {...}}}``
    where ``layer`` is ``<layer>#<round>`` for batch spans."""
    query_layers = query_layers or {}
    acc_names: dict[int, tuple[str, str]] = {}
    stage_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(STAGE_KEYS, 0))
    durations: dict[int, list[float]] = defaultdict(list)
    sql: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    driver_updates: list[tuple[int, list]] = []

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev["sparkPlanInfo"], acc_names)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                layer = _layer_of(props, query_layers)
                jobs[layer] += 1
                for sid in ev["Stage IDs"]:
                    stage_layer[sid] = layer
                if "spark.sql.execution.id" in props:
                    exec_layer[int(props["spark.sql.execution.id"])] = layer
            elif kind.endswith("DriverAccumUpdates"):
                driver_updates.append((ev["executionId"], ev["accumUpdates"]))
            elif kind == "SparkListenerTaskEnd":
                _task(ev, stages[ev["Stage ID"]], durations[ev["Stage ID"]], acc_names,
                      sql[stage_layer.get(ev["Stage ID"], "untagged")])

    for exec_id, updates in driver_updates:
        layer_sql = sql[exec_layer.get(exec_id, "untagged")]
        for acc_id, value in updates:
            if acc_id in acc_names:
                layer_sql[" / ".join(acc_names[acc_id])] += value

    out: dict[str, dict] = {}
    for sid, st in stages.items():
        d = durations[sid]
        st["task_max_s"] = max(d, default=0.0)
        st["task_median_s"] = statistics.median(d) if d else 0.0
        layer = out.setdefault(stage_layer.get(sid, "untagged"), {"jobs": 0, "stages": {}, "sql": {}})
        layer["stages"][str(sid)] = st
    for layer, n in jobs.items():
        out.setdefault(layer, {"jobs": 0, "stages": {}, "sql": {}})["jobs"] = n
    for layer, metrics in sql.items():
        if layer in out:
            out[layer]["sql"] = dict(metrics)
    return out


def _task(ev: dict, st: dict, durations: list, acc_names: dict, layer_sql: dict) -> None:
    info = ev["Task Info"]
    failed = info.get("Failed") or info.get("Killed") or ev["Task End Reason"]["Reason"] != "Success"
    st["tasks"] += 1
    st["failed_tasks"] += int(bool(failed))
    durations.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    for acc in info.get("Accumulables", []):
        if acc["ID"] in acc_names and isinstance(acc.get("Update"), (int, float, str)):
            try:
                value = float(acc["Update"])
            except ValueError:
                continue
            layer_sql[" / ".join(acc_names[acc["ID"]])] += value
            if acc_names[acc["ID"]][1] == "time to run Python workers":  # ms
                st["python_udf_s"] += value / 1e3
    m = ev.get("Task Metrics")
    if not m:
        return
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_read_records"] += sr.get("Total Records Read", 0)
    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)


def layer_totals(layer: dict) -> dict[str, float]:
    """Stage metrics of one layer summed over its stages, with the max/median
    task-time ratio of its slowest stage."""
    tot = dict.fromkeys(STAGE_KEYS, 0)
    worst = 0.0
    for st in layer["stages"].values():
        for k in STAGE_KEYS:
            tot[k] += st[k]
        if st["task_median_s"] > 0:
            worst = max(worst, st["task_max_s"] / st["task_median_s"])
    tot["max_over_median_task"] = worst
    tot["jobs"] = layer["jobs"]
    return tot


if __name__ == "__main__":
    json.dump(reduce(sys.argv[1]), sys.stdout, indent=1)
    print()
