"""Offline parser for an uncompressed Spark event log.

Aggregates jobs, stages, task metrics and SQL node metrics per job
group (``SparkContext.setJobGroup``). Nothing here touches Spark: the
input is the JSON-lines file(s) Spark wrote with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric types and the factor that takes a raw value to seconds
# (timings) or leaves it as is (sizes in bytes, counts)
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


def node_sum(nodes: dict[tuple[str, str], float], node_prefix: str, metric: str) -> float:
    return sum(
        v for (n, m), v in nodes.items() if n.startswith(node_prefix) and m == metric
    )


@dataclass
class Stage:
    """Executor run seconds of one stage and its SQL node metrics."""

    run_s: float
    nodes: dict[tuple[str, str], float]

    def node(self, node_prefix: str, metric: str) -> float:
        return node_sum(self.nodes, node_prefix, metric)

    def has_node(self, node_prefix: str) -> bool:
        return any(n.startswith(node_prefix) for n, _ in self.nodes)


@dataclass
class Group:
    """Everything one job group ran."""

    jobs: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: (launch, finish) epoch ms of every task
    task_spans: list[tuple[int, int]] = field(default_factory=list)
    #: epoch ms at which each SQL execution of the group started
    sql_starts: list[int] = field(default_factory=list)
    #: (node name, metric name) -> value; timings in seconds
    nodes: dict[tuple[str, str], float] = field(default_factory=lambda: defaultdict(float))
    #: one entry per completed stage
    stage_list: list[Stage] = field(default_factory=list)

    def node(self, node_prefix: str, metric: str) -> float:
        return node_sum(self.nodes, node_prefix, metric)


def event_files(path: str) -> list[str]:
    """Event-log files: ``path`` itself, or the rolling ``events_<n>_*``
    parts under it, in write order."""
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "**", "events_*"), recursive=True)

    def order(f: str) -> tuple[str, int]:
        return (os.path.dirname(f), int(os.path.basename(f).split("_")[1]))

    return sorted(files, key=order)


def read_events(path: str):
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    return  # a torn last line of a log still being written


def _plan_metrics(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m.get("metricType", "sum"))
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _metric_value(raw, mtype: str) -> float:
    try:
        v = float(raw)
    except (TypeError, ValueError):
        return 0.0
    return v * _TO_SECONDS.get(mtype, 1.0)


def parse(path: str) -> dict[str, Group]:
    """Job group -> :class:`Group`. Jobs without a group land under ``""``."""
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accums: dict[int, tuple[str, str, str]] = {}
    pending_stages: list[dict] = []
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
        elif kind == "SparkListenerStageCompleted":
            pending_stages.append(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev.get("Stage ID"), "")]
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            g.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g.task_failures += 1
            g.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            if info.get("Launch Time") and info.get("Finish Time"):
                g.task_spans.append((info["Launch Time"], info["Finish Time"]))
        elif kind == _SQL_START:
            eid = int(ev["executionId"])
            if ev.get("jobGroupId") is not None:
                exec_group[eid] = ev["jobGroupId"]
            g = exec_group.get(eid, "")
            groups[g].sql_starts.append(int(ev["time"]))
            _plan_metrics(ev.get("sparkPlanInfo") or {}, accums)
        elif kind == _SQL_AQE:
            _plan_metrics(ev.get("sparkPlanInfo") or {}, accums)
        elif kind == _DRIVER_ACCUM:
            g = groups[exec_group.get(int(ev["executionId"]), "")]
            for aid, raw in ev.get("accumUpdates", []):
                if aid in accums:
                    node, name, mtype = accums[aid]
                    g.nodes[(node, name)] += _metric_value(raw, mtype)

    # stage accumulables are resolved last: AQE re-plans register
    # their metric ids after the stages that use them may have started
    for st in pending_stages:
        g = groups[stage_group.get(st["Stage ID"], "")]
        stage = Stage(0.0, defaultdict(float))
        for acc in st.get("Accumulables", []):
            if acc.get("Name") == "internal.metrics.executorRunTime":
                stage.run_s = _metric_value(acc.get("Value"), "timing")
            hit = accums.get(acc.get("ID"))
            if hit is None:
                continue
            node, name, mtype = hit
            v = _metric_value(acc.get("Value"), mtype)
            stage.nodes[(node, name)] += v
            g.nodes[(node, name)] += v
        g.stage_list.append(stage)
    return dict(groups)


def busy_seconds(spans: list[tuple[int, int]], lo: int, hi: int) -> float:
    """Seconds of [lo, hi] (epoch ms) during which at least one task ran."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    busy = 0
    end = lo
    for a, b in clipped:
        if b <= end:
            continue
        busy += b - max(a, end)
        end = b
    return busy / 1e3
