"""Per-layer metrics of a traced run, from the event log, the probes'
JSON lines and the driver-side marks of each traced pass."""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.metrics import PER_LAYER, RANKED_LAYERS
from perfbench.probes import read_records
from perfbench.workloads import Pass

MB = 1e6


def _traced(group: str) -> bool:
    """Job groups end in ``|<phase><pass>``; traced passes are ``t``."""
    return group.rsplit("|", 1)[-1].startswith("t")


def _call(group: str) -> str:
    """``<workload>|<layer>|<call>|<phase><pass>`` -> ``<call>``."""
    parts = group.split("|")
    return parts[2] if len(parts) > 2 else ""


def _write_residual_s(groups) -> float:
    """Executor time of stages that write parquet, outside the scan
    and the Python workers in the same stage."""
    total = 0.0
    for g in groups:
        for st in g.stage_list:
            if st.has_node("Execute InsertIntoHadoopFsRelationCommand"):
                rest = (
                    st.run_s
                    - st.node("Scan parquet", "scan time")
                    - st.node("MapInPandas", "time to run Python workers")
                )
                total += max(rest, 0.0)
    return total


def compute(
    workload: str,
    passes: list[Pass],
    event_log_dir: str,
    trace_dir: str,
    rows: int,
) -> dict[str, float]:
    """Per-pass means over the traced passes. ``rows`` is the number of
    records one migration leg moves (0 for the curation slice)."""
    n = len(passes)
    all_groups = eventlog.parse(event_log_dir)
    groups = {k: g for k, g in all_groups.items() if _traced(k)}
    gl = list(groups.values())
    qrec = [r for r in read_records(trace_dir, "qdrant") if _traced(r["group"])]
    urec = [r for r in read_records(trace_dir, "udf") if _traced(r["group"])]

    def qsum(call: str, key: str) -> float:
        return sum(r.get(key, 0.0) for r in qrec if _call(r["group"]) == call)

    m = {name: 0.0 for name in PER_LAYER}
    pipe = [g for k, g in groups.items() if _call(k) in ("migrate", "load", "export")]
    if pipe:
        m["pipeline.build_s"] = sum(p.marks.get("build_s", 0.0) for p in passes) / n
        m["pipeline.jobs"] = sum(g.jobs for g in pipe) / n
    if workload == "migrate_file":
        python_s = sum(g.node("MapInPandas", "time to run Python workers") for g in pipe)
        udf_s = sum(r["udf_s"] for r in urec)
        m["transform.python_s"] = python_s / n
        m["transform.udf_s"] = udf_s / n
        m["transform.convert_s"] = (python_s - udf_s) / n
        m["transform.mb_to_python"] = (
            sum(g.node("MapInPandas", "data sent to Python workers") for g in pipe) / MB / n
        )
    m["parquet.scan_s"] = sum(g.node("Scan parquet", "scan time") for g in gl) / n
    m["parquet.read_mb"] = sum(g.node("Scan parquet", "size of files read") for g in gl) / MB / n
    m["parquet.write_s"] = _write_residual_s(gl) / n
    m["parquet.write_mb"] = (
        sum(g.node("Execute InsertIntoHadoopFsRelationCommand", "written output") for g in gl)
        / MB / n
    )

    if workload == "qdrant_roundtrip":
        load = [g for k, g in groups.items() if _call(k) == "load"]
        export = [g for k, g in groups.items() if _call(k) == "export"]
        m["qdrant.prepass_s"] = (qsum("export", "count_s") + qsum("export", "idscroll_s")) / n
        m["qdrant.upsert_calls"] = qsum("load", "upsert_calls") / n
        m["qdrant.upsert_s"] = qsum("load", "upsert_s") / n
        m["qdrant.points_written"] = qsum("load", "upsert_points") / n
        m["qdrant.scroll_calls"] = qsum("export", "scroll_calls") / n
        m["qdrant.scroll_s"] = qsum("export", "scroll_s") / n
        m["qdrant.points_read"] = qsum("export", "scroll_points") / n
        m["qdrant.read_amplification"] = qsum("export", "scroll_points") / (rows * n)
        m["qdrant.write_task_s"] = (
            sum(g.executor_run_s for g in load) - qsum("load", "upsert_s")
        ) / n
        scan_stage_s = sum(
            st.run_s for g in export for st in g.stage_list
            if st.has_node("MapInPandas")
        )
        m["qdrant.scan_task_s"] = (scan_stage_s - qsum("export", "scroll_s")) / n
        m["qdrant.load_rows_per_s"] = rows / statistics.median(p.marks["load_s"] for p in passes)
        m["qdrant.export_rows_per_s"] = rows / statistics.median(
            p.marks["export_s"] for p in passes
        )

    if workload == "curation_suite":
        build = [g for k, g in groups.items() if _call(k).startswith("build:")]
        m["suite.build_s"] = sum(sum(p.marks["builds"].values()) for p in passes) / n
        m["suite.build_jobs"] = sum(g.jobs for g in build) / n
        plan_s = exec_s = 0.0
        for p in passes:
            for group, (called_ms, wall) in p.marks["writes"].items():
                starts = all_groups.get(group, eventlog.Group()).sql_starts
                plan = max(min(starts) - called_ms, 0.0) / 1e3 if starts else 0.0
                plan_s += plan
                exec_s += wall - plan
        m["suite.plan_s"] = plan_s / n
        m["suite.exec_s"] = exec_s / n

    m["spark.jobs"] = sum(g.jobs for g in gl) / n
    m["spark.tasks"] = sum(g.tasks for g in gl) / n
    m["spark.executor_run_s"] = sum(g.executor_run_s for g in gl) / n
    m["spark.executor_cpu_s"] = sum(g.executor_cpu_s for g in gl) / n
    m["spark.gc_s"] = sum(g.gc_s for g in gl) / n
    m["spark.shuffle_write_mb"] = sum(g.shuffle_write_bytes for g in gl) / MB / n
    m["spark.spill_mb"] = sum(g.spill_bytes for g in gl) / MB / n
    m["spark.task_failures"] = sum(g.task_failures for g in gl) / n
    spans = [s for g in gl for s in g.task_spans]
    m["spark.driver_gap_s"] = sum(
        (p.end_ms - p.start_ms) / 1e3 - eventlog.busy_seconds(spans, p.start_ms, p.end_ms)
        for p in passes
    ) / n
    return m


def top_layers(m: dict[str, float], k: int = 3) -> list[tuple[str, float]]:
    return sorted(((name, m[name]) for name in RANKED_LAYERS), key=lambda x: -x[1])[:k]
