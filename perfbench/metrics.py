"""Every metric the benchmark reports: unit, direction, and what it is
expected to move. ``BENCHMARK.json`` at the repo root lists the same
names; ``perfbench/tests`` checks that the two agree.

A *pass* is one unit of a workload's work: one migration
(``migrate_file``), one load plus one export (``qdrant_roundtrip``),
or one run of every query in the slice (``curation_suite``). Per-layer
values are totals over the traced passes divided by their number.
Executor and task seconds are summed over parallel tasks, so they can
exceed wall time.
"""

from __future__ import annotations

from typing import NamedTuple


class Metric(NamedTuple):
    unit: str
    better: str
    #: which end-to-end metric (on which workload) this should move
    moves: str
    bound: float | None = None


END_TO_END: dict[str, Metric] = {
    "setup_s": Metric(
        "s", "lower",
        "session start + median of three fixture generations + the warm-up passes",
        0.25),
    "wall_s": Metric("s", "lower", "median wall time of one pass", 0.25),
    "rows_per_s": Metric(
        "1/s", "higher",
        "rows one pass moves (migrations) or reads (queries) / wall_s", 0.25),
    "mb_per_s": Metric(
        "MB/s", "higher",
        "logical canonical MB one pass moves or reads (id UTF-8 + 4*dim + "
        "metadata key/value UTF-8) / wall_s", 0.25),
    "op_p50_s": Metric(
        "s", "lower",
        "median latency of one call into the program: a migration, a Qdrant "
        "leg, or one query's build plus noop write", 0.25),
}

_ALL = "all workloads"
_MF = "rows_per_s on migrate_file"
_LOAD = "rows_per_s on qdrant_roundtrip (load leg)"
_EXPORT = "rows_per_s on qdrant_roundtrip (export leg)"
_SUITE = "wall_s and op_p50_s on curation_suite"

PER_LAYER: dict[str, Metric] = {
    # session
    "session.start_s": Metric("s", "lower", f"setup_s on {_ALL}"),
    "fixture.gen_s": Metric("s", "lower", f"setup_s on {_ALL}"),
    # plans.pipeline
    "pipeline.build_s": Metric(
        "s", "lower", "wall_s on migrate_file and qdrant_roundtrip: Migrator() + .plan()"),
    "pipeline.jobs": Metric(
        "count", "lower", f"{_MF}: Spark jobs per migrate(), incl. the dimension sniff"),
    # operators.transform
    "transform.python_s": Metric("s", "lower", f"{_MF}: MapInPandas time to run Python workers"),
    "transform.udf_s": Metric("s", "lower", f"{_MF}: time inside the user transform"),
    "transform.convert_s": Metric("s", "lower", f"{_MF}: python_s - udf_s"),
    "transform.mb_to_python": Metric("MB", "lower", f"{_MF}: data sent to Python workers"),
    # sources.parquet_io + canonical
    "parquet.scan_s": Metric("s", "lower", "mb_per_s on migrate_file: parquet scan time"),
    "parquet.read_mb": Metric("MB", "lower", "mb_per_s on migrate_file: size of files scanned"),
    "parquet.write_s": Metric(
        "s", "lower",
        "mb_per_s on migrate_file: write-stage executor time outside scan and Python workers"),
    "parquet.write_mb": Metric("MB", "lower", "mb_per_s on migrate_file: parquet bytes written"),
    # sources.qdrant + sources.demo_backend
    "qdrant.prepass_s": Metric("s", "lower", f"{_EXPORT}: driver count + id-only scrolls"),
    "qdrant.upsert_calls": Metric("count", "lower", _LOAD),
    "qdrant.upsert_s": Metric("s", "lower", _LOAD),
    "qdrant.points_written": Metric("count", "lower", _LOAD),
    "qdrant.scroll_calls": Metric("count", "lower", _EXPORT),
    "qdrant.scroll_s": Metric("s", "lower", _EXPORT),
    "qdrant.points_read": Metric("count", "lower", _EXPORT),
    "qdrant.read_amplification": Metric(
        "ratio", "lower", f"{_EXPORT}: payload points read / rows exported"),
    "qdrant.write_task_s": Metric(
        "s", "lower", f"{_LOAD}: load-stage executor time minus upsert time"),
    "qdrant.scan_task_s": Metric(
        "s", "lower", f"{_EXPORT}: scan-stage executor time minus scroll time"),
    "qdrant.load_rows_per_s": Metric("1/s", "higher", f"{_LOAD}: rows / median load wall"),
    "qdrant.export_rows_per_s": Metric("1/s", "higher", f"{_EXPORT}: rows / median export wall"),
    # suite + operators.*
    "suite.build_s": Metric("s", "lower", f"{_SUITE}: query-function wall (driver build)"),
    "suite.build_jobs": Metric("count", "lower", f"{_SUITE}: eager jobs run during build"),
    "suite.plan_s": Metric(
        "s", "lower", f"{_SUITE}: noop write call to its SQLExecutionStart event"),
    "suite.exec_s": Metric("s", "lower", f"{_SUITE}: noop write wall minus plan_s"),
    # Spark engine
    "spark.jobs": Metric("count", "lower", f"wall_s on {_ALL}"),
    "spark.tasks": Metric("count", "lower", f"wall_s on {_ALL}"),
    "spark.executor_run_s": Metric("s", "lower", f"wall_s on {_ALL}"),
    "spark.executor_cpu_s": Metric("s", "lower", f"wall_s on {_ALL}"),
    "spark.gc_s": Metric("s", "lower", f"wall_s on {_ALL}"),
    "spark.shuffle_write_mb": Metric("MB", "lower", f"wall_s on {_ALL}"),
    "spark.spill_mb": Metric("MB", "lower", f"wall_s on {_ALL}"),
    "spark.task_failures": Metric("count", "lower", f"wall_s on {_ALL}"),
    "spark.driver_gap_s": Metric(
        "s", "lower", f"wall_s on {_ALL}: pass wall with no task running"),
    # recorded, not gated
    "mem.peak_rss_mb": Metric("MB", "lower", "none: process-tree peak RSS, recorded only"),
    "trace.overhead": Metric(
        "ratio", "lower",
        "none: median traced / median untraced pass wall, the two interleaved in one run"),
}

#: layers ranked when a traced run names its top three (seconds per pass)
RANKED_LAYERS = (
    "pipeline.build_s", "transform.udf_s", "transform.convert_s", "parquet.scan_s",
    "parquet.write_s", "qdrant.prepass_s", "qdrant.upsert_s", "qdrant.scroll_s",
    "qdrant.write_task_s", "qdrant.scan_task_s", "suite.build_s", "suite.plan_s",
    "suite.exec_s", "spark.driver_gap_s",
)
