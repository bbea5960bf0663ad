"""SparkSession factory tuned for this engine.

Local-mode testing defaults; the same builder flags are the ones that
matter on a real multi-executor cluster (AQE, Arrow, shuffle
partitions). On a 1000-executor / 100 TB deployment only the numeric
knobs change (``spark.sql.shuffle.partitions`` sized to ~2-3× total
cores, ``maxPartitionBytes`` at 128-256 MB); the plan shapes produced by
this package are already partition-parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vectordb_migrator_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    AQE is enabled so runtime statistics can re-plan joins (broadcast
    conversion, skew-join splitting, partition coalescing) — this is the
    scale story: the same declarative plans survive 100× data growth
    because the runtime re-sizes them.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Executor Python workers inherit PYTHONPATH from this process at
    # JVM start — export the package root so pickled DataSources and
    # ``client_factory`` import strings resolve on workers in ANY
    # launch mode, not just under pytest's conftest.
    from pathlib import Path

    root = str(Path(__file__).resolve().parent.parent)
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{root}{os.pathsep}{pp}" if pp else root

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # off by default in Spark 4.1; our Python DataSources implement
        # pushFilters, which hard-errors unless this is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from vectordb_migrator_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    return spark
