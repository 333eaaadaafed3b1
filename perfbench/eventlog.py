"""Per-layer metrics from a Spark event log (``spark.eventLog.compress``
off, so the files are plain JSON lines).

SQL metrics are accumulators: the plan of every SQL execution names
each accumulator's node, and every task-end event carries the updates
its task made. A stage is attributed to the nodes whose accumulators
its tasks updated. Task time spent in a Python node is taken by stage
(the run time of stages that ran one), never by adding the node's own
Python timers, which include time spent waiting on the upstream JVM
iterator.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

MB = 1e6
SQL_EVENT = "org.apache.spark.sql.execution.ui."
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
# qdigest_of's precount: groupBy("v").agg(count(lit(1)))
PRECOUNT_AGG = re.compile(r"^HashAggregate\(keys=\[v#\d+L?\], functions=\[(partial_)?count\(1\)\]")
PRECOUNT_EXCHANGE = re.compile(r"^Exchange hashpartitioning\(v#\d+L?, ")
# the partial-sketch builders of operators.aggregate/multi/heavy_hitters
PARTIAL_BUILD = re.compile(r"^MapInPandas build\(")
TREE_MERGE = re.compile(r"^FlatMapGroupsInPandas \[[^\]]*part_id#")
GROUPED_MERGE = re.compile(r"^FlatMapGroupsInPandas ")


def read_events(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan["metrics"]:
        out[m["accumulatorId"]] = (plan["nodeName"], plan["simpleString"], m["name"], m["metricType"])
    for child in plan["children"]:
        _plan_metrics(child, out)


def layer_metrics(log_dir: str, group: str, queries: int) -> dict:
    """Per-query layer metrics of the jobs tagged with ``group``."""
    events = read_events(log_dir)
    acc: dict[int, tuple] = {}
    stage_group: dict[int, str] = {}
    executions: set[int] = set()
    jobs = 0
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e and kind.startswith(SQL_EVENT):
            _plan_metrics(e["sparkPlanInfo"], acc)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
            if g == group:
                jobs += 1
                if "spark.sql.execution.id" in props:
                    executions.add(int(props["spark.sql.execution.id"]))

    sums: dict[str, float] = defaultdict(float)
    # file sizes are driver-side metrics (task input metrics undercount
    # the vectorized parquet reader)
    for e in events:
        if e["Event"].endswith("SparkListenerDriverAccumUpdates") and e["executionId"] in executions:
            for aid, value in e["accumUpdates"]:
                node, _, metric, _ = acc.get(aid, ("", "", "", ""))
                if node.startswith("Scan") and metric == "size of files read":
                    sums["scan.input_mb"] += value / MB
    stage_run_s: dict[int, float] = defaultdict(float)
    stage_nodes: dict[int, set] = defaultdict(set)
    stages: set[int] = set()
    tasks = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or stage_group.get(e["Stage ID"]) != group:
            continue
        sid = e["Stage ID"]
        tm = e.get("Task Metrics") or {}
        tasks += 1
        stages.add(sid)
        stage_run_s[sid] += tm.get("Executor Run Time", 0) / 1e3
        sums["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        sums["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        if e.get("Task Type") == "ResultTask":
            sums["driver.collect_mb"] += tm.get("Result Size", 0) / MB
        for a in e["Task Info"].get("Accumulables", []):
            meta = acc.get(a["ID"])
            if meta is None or "Update" not in a:
                continue
            node, text, metric, mtype = meta
            value = float(a["Update"])
            stage_nodes[sid].add((node, text))
            _add_sql_metric(sums, node, text, metric, mtype, value)

    sums["spark.task_s"] = sum(stage_run_s.values())
    for sid in stages:
        texts = [t for _, t in stage_nodes[sid]]
        if any(n for n, _ in stage_nodes[sid] if _is_python(n)):
            sums["python.udf_task_s"] += stage_run_s[sid]
        if any(TREE_MERGE.match(t) for t in texts):
            sums["tree_merge.task_s"] += stage_run_s[sid]
        elif any(GROUPED_MERGE.match(t) for t in texts):
            sums["grouped.merge_task_s"] += stage_run_s[sid]

    per_query = {k: v / queries for k, v in sums.items()}
    per_query.update(
        {
            "spark.jobs": jobs / queries,
            "spark.stages": len(stages) / queries,
            "spark.tasks": tasks / queries,
        }
    )
    return per_query


def _is_python(node: str) -> bool:
    return "Pandas" in node or "Python" in node or "Arrow" in node


def _seconds(value: float, mtype: str) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def _add_sql_metric(sums, node, text, metric, mtype, value) -> None:
    if node.startswith("Scan") and metric == "scan time":
        sums["scan.task_s"] += _seconds(value, mtype)
    elif metric == PY_SENT:
        sums["arrow.to_python_mb"] += value / MB
    elif metric == PY_RETURNED:
        sums["arrow.from_python_mb"] += value / MB
        if PARTIAL_BUILD.match(text):
            sums["aggregate.partial_mb"] += value / MB
    elif metric == "number of output rows" and PARTIAL_BUILD.match(text):
        sums["aggregate.partial_rows"] += value
    elif PRECOUNT_AGG.match(text):
        if metric == "time in aggregation build":
            sums["precount.agg_task_s"] += _seconds(value, mtype)
        elif metric == "number of output rows" and "partial_count" not in text:
            sums["precount.hist_rows"] += value
    elif metric == "shuffle bytes written" and PRECOUNT_EXCHANGE.match(text):
        sums["precount.shuffle_mb"] += value / MB
