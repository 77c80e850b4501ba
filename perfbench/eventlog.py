"""Parser for Spark's JSON event log (uncompressed, non-rolling).

Everything is keyed by job group: the traced run gives each staged prefix
its own group, so counters can be attributed to the prefix that caused
them. SQL metrics are resolved through the ``sparkPlanInfo`` trees, which
map each accumulator id to its plan node and metric name.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter, defaultdict
from dataclasses import dataclass, field


@dataclass
class Group:
    """Counters of every job run under one job group."""

    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ms: float = 0.0
    spill_disk_bytes: int = 0
    peak_execution_memory_bytes: int = 0
    # stage id -> run time (ms) of each of its tasks
    stage_task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))
    stages_reading_shuffle: set[int] = field(default_factory=set)
    # (node name, node description, metric name) -> summed value, in ms for timings
    sql: Counter = field(default_factory=Counter)
    # number of shuffle Exchange nodes in the final plan of each SQL execution
    exchanges: int = 0

    def sql_sum(self, node: str, contains: str, metric: str) -> float:
        """Sum of ``metric`` over plan nodes named ``node`` whose description
        contains ``contains``."""
        return sum(v for (n, desc, m), v in self.sql.items()
                   if n == node and contains in desc and m == metric)

    def task_skew(self) -> float:
        """max / median task run time of the heaviest stage that reads a
        shuffle (the window stage on the featurize and events plans);
        0.0 when no stage reads one."""
        stages = [s for s in self.stages_reading_shuffle if self.stage_task_ms.get(s)]
        if not stages:
            return 0.0
        heaviest = max(stages, key=lambda s: sum(self.stage_task_ms[s]))
        times = self.stage_task_ms[heaviest]
        return max(times) / max(statistics.median(times), 1)

    def merge(self, other: "Group") -> "Group":
        out = Group()
        for g in (self, other):
            for name in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                         "shuffle_write_bytes", "shuffle_write_ms", "spill_disk_bytes",
                         "exchanges"):
                setattr(out, name, getattr(out, name) + getattr(g, name))
            out.peak_execution_memory_bytes = max(out.peak_execution_memory_bytes,
                                                  g.peak_execution_memory_bytes)
            out.stage_task_ms.update(g.stage_task_ms)
            out.stages_reading_shuffle |= g.stages_reading_shuffle
            out.sql.update(g.sql)
        return out


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


_SCALE_TO_MS = {"nsTiming": 1e-6}


def parse(path: str) -> dict[str, Group]:
    """Job group -> its counters. Jobs outside any group land under ''."""
    acc: dict[int, tuple[str, str, str, float]] = {}
    final_plan: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    groups: dict[str, Group] = defaultdict(Group)
    driver_updates: list[tuple[int, int, int]] = []

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                final_plan[e["executionId"]] = e["sparkPlanInfo"]
                for node in _walk(e["sparkPlanInfo"]):
                    for m in node["metrics"]:
                        acc[m["accumulatorId"]] = (
                            node["nodeName"], node["simpleString"], m["name"],
                            _SCALE_TO_MS.get(m["metricType"], 1.0))
            elif kind == "SparkListenerDriverAccumUpdates":
                driver_updates += [(e["executionId"], i, v) for i, v in e["accumUpdates"]]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                groups[group].jobs += 1
                for s in e["Stage IDs"]:
                    stage_group[s] = group
                if "spark.sql.execution.id" in props:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif kind == "SparkListenerTaskEnd":
                _add_task(groups[stage_group.get(e["Stage ID"], "")], e, acc)

    for exec_id, acc_id, value in driver_updates:
        if acc_id in acc and exec_id in exec_group:
            node, desc, metric, scale = acc[acc_id]
            groups[exec_group[exec_id]].sql[(node, desc, metric)] += max(value, 0) * scale
    for exec_id, plan in final_plan.items():
        if exec_id in exec_group:
            groups[exec_group[exec_id]].exchanges += sum(
                n["nodeName"] == "Exchange" for n in _walk(plan))
    return dict(groups)


def _add_task(g: Group, e: dict, acc: dict) -> None:
    m = e.get("Task Metrics")
    if not m:
        return
    g.tasks += 1
    g.executor_run_ms += m["Executor Run Time"]
    g.executor_cpu_ms += m["Executor CPU Time"] / 1e6
    g.gc_ms += m["JVM GC Time"]
    g.spill_disk_bytes += m["Disk Bytes Spilled"]
    g.peak_execution_memory_bytes = max(g.peak_execution_memory_bytes,
                                        m["Peak Execution Memory"])
    write = m["Shuffle Write Metrics"]
    g.shuffle_write_bytes += write["Shuffle Bytes Written"]
    g.shuffle_write_ms += write["Shuffle Write Time"] / 1e6
    stage = e["Stage ID"]
    g.stage_task_ms[stage].append(m["Executor Run Time"])
    if m["Shuffle Read Metrics"]["Total Records Read"]:
        g.stages_reading_shuffle.add(stage)
    for a in e["Task Info"].get("Accumulables", ()):
        if a["ID"] in acc:
            node, desc, metric, scale = acc[a["ID"]]
            # SQL metric updates are logged as strings
            g.sql[(node, desc, metric)] += max(float(a["Update"]), 0) * scale
