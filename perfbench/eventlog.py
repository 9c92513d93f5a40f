"""Read a Spark event log and attribute its metrics to job groups and
plan nodes.

SQL metrics reach the log as accumulator updates on task-end events,
keyed by accumulator ID only.  ``SQLExecutionStart`` (and, under AQE,
each ``SQLAdaptiveExecutionUpdate``) carries the physical plan with the
accumulator IDs of every node's metrics; walking those plans maps each
ID back to its node.  Jobs carry the submitting thread's job group in
their properties, which maps every stage, and so every task, to the
layer call that ran it.

Handles plain and rolling (``eventlog_v2_*`` directory) logs.  A
compressed log is refused: the benchmark turns compression off.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_COMPRESSED = (".lz4", ".lzf", ".snappy", ".zstd")


@dataclass
class Task:
    stage: int
    group: str | None
    duration_ms: int
    metrics: dict  # "Task Metrics" of the task-end event
    accums: dict[int, int]  # SQL metric updates: accumulator ID -> value


@dataclass
class Node:
    name: str  # plan node name, e.g. "MapInPandas", "Scan parquet"
    desc: str  # the node's simpleString
    metrics: dict[str, int] = field(default_factory=dict)  # metric name -> acc ID


@dataclass
class EventLog:
    tasks: list[Task]
    nodes: dict[int, Node]  # accumulator ID -> node that owns it
    group_jobs: dict[str, list[int]]

    def tasks_in(self, group: str) -> list[Task]:
        return [t for t in self.tasks if t.group == group]

    def sql_metric(self, tasks, node_name: str, metric: str, desc_has: str = "") -> int:
        """Sum of one SQL metric over ``tasks``, over every plan node
        named ``node_name`` (whose description contains ``desc_has``)."""
        ids = {
            acc
            for acc, node in self.nodes.items()
            if node.name == node_name
            and desc_has in node.desc
            and node.metrics.get(metric) == acc
        }
        return sum(v for t in tasks for acc, v in t.accums.items() if acc in ids)

    def tasks_with(self, tasks, node_name: str) -> list[Task]:
        """The tasks that updated a metric of a ``node_name`` node."""
        ids = {acc for acc, node in self.nodes.items() if node.name == node_name}
        return [t for t in tasks if ids.intersection(t.accums)]


def log_files(path: str) -> list[str]:
    """The event files of one application, in write order."""
    if os.path.isdir(path):
        files = [f for f in os.listdir(path) if f.startswith("events_")]
        files.sort(key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in files]
    else:
        files = [path]
    for f in files:
        if f.endswith(_COMPRESSED):
            raise ValueError(f"compressed event log not supported: {f}")
    return files


def _walk(plan: dict, nodes: dict[int, Node]) -> None:
    node = Node(plan["nodeName"].strip(), plan.get("simpleString", ""))
    for m in plan.get("metrics", ()):
        node.metrics[m["name"]] = m["accumulatorId"]
        nodes[m["accumulatorId"]] = node
    for child in plan.get("children", ()):
        _walk(child, nodes)


def read(path: str) -> EventLog:
    nodes: dict[int, Node] = {}
    stage_group: dict[int, str | None] = {}
    group_jobs: dict[str, list[int]] = defaultdict(list)
    raw_tasks = []
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk(ev["sparkPlanInfo"], nodes)
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev["Stage IDs"]:
                        stage_group[s] = group
                    if group is not None:
                        group_jobs[group].append(ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    if ev["Task End Reason"]["Reason"] != "Success":
                        continue
                    raw_tasks.append(ev)
    tasks = []
    for ev in raw_tasks:
        info = ev["Task Info"]
        accums = {
            a["ID"]: int(a["Update"])
            for a in info.get("Accumulables", ())
            if a.get("Metadata") == "sql" and "Update" in a
        }
        tasks.append(
            Task(
                stage=ev["Stage ID"],
                group=stage_group.get(ev["Stage ID"]),
                duration_ms=info["Finish Time"] - info["Launch Time"],
                metrics=ev.get("Task Metrics") or {},
                accums=accums,
            )
        )
    return EventLog(tasks, nodes, dict(group_jobs))
