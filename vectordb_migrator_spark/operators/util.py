"""Operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row work.

    The local testdata parquet has one row group per file, so scans
    come up single-partition and per-row compute (minhash signatures,
    simhash bit votes) would single-thread. On a real cluster the scan
    is already partition-parallel and this is a no-op, so the explicit
    exchange only exists where it pays for itself. Uses repartition
    with an explicit count — AQE does not coalesce user-specified
    partition numbers back down.

    Width is estimated from ``df.inputFiles()`` (a logical-plan walk)
    rather than ``df.rdd.getNumPartitions()``, which would force full
    physical planning of the plan-so-far on EVERY call — planning a
    100-operator DAG twice just to read a partition count. File count
    approximates scan width well for the case this guards (a tiny
    under-split scan feeding heavy compute); non-file sources (JDBC,
    connector ``mapInPandas`` scans) fall back to the physical-plan
    probe since they have no file listing.

    A large file COUNT is not sufficient evidence of width: Spark
    packs small files into shared splits (``maxPartitionBytes`` /
    ``openCostInBytes``), so 200 tiny files can still scan as 1-2
    partitions. When the file count alone would say "wide enough",
    confirm with the physical-plan probe before skipping the exchange
    — the probe only runs in that branch, so the cheap common case
    (few files → repartition) still never plans twice.
    """
    sc = df.sparkSession.sparkContext
    # default: half the cores — measured sweet spot for the fan-out
    # case (a tiny under-partitioned scan feeding CPU-heavy per-row
    # work): enough parallelism to saturate compute, half the
    # per-task scheduling overhead of full-width
    target = min_partitions or max(2, sc.defaultParallelism // 2)
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — estimation only, never fatal
        n_files = 0
    if n_files and n_files < target:
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def kernel_ok(n: int = 0, limit: int = 0) -> bool:
    """The one guard in front of every single-task or Arrow kernel
    that has a dataflow (or interpreted-HOF fold) twin computing the
    same values; the twin stays as the large-input path. A site passes
    a size it already holds and its kernel's one-task bound: the Lloyd
    and PQ all-iterations loops their partition count against 1, the
    graph kernels their edge count against ``graph._KERNEL_MAX_EDGES``
    (pagerank: ``_PAGERANK_KERNEL_MAX_EDGES``); the per-batch Arrow
    and one-row graph-certificate kernels pass nothing. Sites call it
    as ``util.kernel_ok``, so patching this one attribute to refuse
    forces every twin; that is how the tests check the kernels."""
    return n <= limit
