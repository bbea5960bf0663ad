"""Benchmark-owned wrappers around the injected Qdrant client and the
user transform. They run on the driver and inside Python workers, so
each process appends its own JSON lines under the run's trace dir;
:func:`read_records` gathers them afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from typing import Any


def _job_group() -> str:
    """The job group of the calling task (worker) or thread (driver)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is not None:
        return ctx.getLocalProperty("spark.jobGroup.id") or ""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return (sc.getLocalProperty("spark.jobGroup.id") if sc else None) or ""


def _append(trace_dir: str, kind: str, record: dict[str, Any]) -> None:
    record["group"] = _job_group()
    record["pid"] = os.getpid()
    with open(os.path.join(trace_dir, f"{kind}.{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


class TimedQdrantClient:
    """Delegates to a real client; times and counts ``count``,
    ``scroll`` and ``upsert`` and the points each moves. The adapter
    calls ``close`` at the end of every partition and after the
    driver's planning pre-pass; that is when the counts are written."""

    def __init__(self, inner, trace_dir: str):
        self._inner = inner
        self._trace_dir = trace_dir
        self._stats: dict[str, float] = defaultdict(float)

    def __getattr__(self, name: str):
        return getattr(self._inner, name)

    def count(self, *args, **kwargs):
        t0 = time.perf_counter()
        out = self._inner.count(*args, **kwargs)
        self._stats["count_s"] += time.perf_counter() - t0
        self._stats["count_calls"] += 1
        return out

    def scroll(self, *args, **kwargs):
        t0 = time.perf_counter()
        points, nxt = self._inner.scroll(*args, **kwargs)
        dt = time.perf_counter() - t0
        # an id-only scroll is the driver's cursor-segmentation pre-pass
        kind = (
            "idscroll"
            if not kwargs.get("with_payload", True) and not kwargs.get("with_vectors", True)
            else "scroll"
        )
        self._stats[f"{kind}_s"] += dt
        self._stats[f"{kind}_calls"] += 1
        self._stats[f"{kind}_points"] += len(points)
        return points, nxt

    def upsert(self, *args, **kwargs):
        points = kwargs.get("points", args[1] if len(args) > 1 else ())
        t0 = time.perf_counter()
        out = self._inner.upsert(*args, **kwargs)
        self._stats["upsert_s"] += time.perf_counter() - t0
        self._stats["upsert_calls"] += 1
        self._stats["upsert_points"] += len(points)
        return out

    def close(self) -> None:
        close = getattr(self._inner, "close", None)
        if close:
            close()
        if self._stats:
            _append(self._trace_dir, "qdrant", dict(self._stats))
            self._stats.clear()


class TimedClientFactory:
    """``client_factory`` that wraps each client the adapter opens."""

    def __init__(self, inner_factory, trace_dir: str):
        self.inner_factory = inner_factory
        self.trace_dir = trace_dir

    def __call__(self, connection: dict[str, Any]) -> TimedQdrantClient:
        return TimedQdrantClient(self.inner_factory(connection), self.trace_dir)


class TimedTransform:
    """Times the user transform itself, one record per Arrow batch."""

    def __init__(self, fn, trace_dir: str):
        self.fn = fn
        self.trace_dir = trace_dir

    def __call__(self, data: list[dict[str, Any]]) -> list[dict[str, Any]]:
        rows = len(data)
        t0 = time.perf_counter()
        out = self.fn(data)
        _append(self.trace_dir, "udf", {"udf_s": time.perf_counter() - t0, "rows": rows})
        return out


def read_records(trace_dir: str, kind: str) -> list[dict[str, Any]]:
    out = []
    for path in sorted(glob.glob(os.path.join(trace_dir, f"{kind}.*.jsonl"))):
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out
