"""T1 — the pluggable row-wise transform surface.

The reference loads a user module exposing ``transform(data) ->
data`` where ``data`` is the full list of canonical dicts, applied once
between extract and load (loader ``cli/migrate.py:66-93``; application
``core/migrator.py:79-87``; contract ``README.md:160-192``). The
transform may rename metadata fields, filter items out, modify vector
values, and add computed fields (``examples/add_source_tracking.py``).

Spark mapping: ``mapInArrow`` — the transform sees a *partition's*
rows (as canonical dicts, exactly the reference shape) and may return
fewer/more/modified rows. This is the closest distributed semantic:
the reference contract is per-item with list-level add/drop freedom,
and no published transform depends on cross-item state, so
partition-wise application is semantics-preserving while keeping the
data off the driver. Each Arrow record batch becomes a list of dicts
and back with no pandas step: vectors arrive as lists of Python
``float`` (what the reference drivers hand users), metadata as a
``dict`` (``{}`` when null).
"""

from __future__ import annotations

import importlib.util
from collections.abc import Callable, Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA

TransformFn = Callable[[list[dict[str, Any]]], list[dict[str, Any]]]


def load_transform_function(path: str) -> TransformFn | None:
    """Load ``transform`` from a user .py file by path.

    Mirrors ``cli/migrate.py:66-93``: uses importlib spec loading;
    a missing file or missing ``transform`` attribute degrades to
    ``None`` with a warning rather than aborting.
    """
    try:
        spec = importlib.util.spec_from_file_location("user_transform", path)
        if spec is None or spec.loader is None:
            raise ImportError(f"cannot load module from {path}")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
    except Exception as exc:  # noqa: BLE001 — degrade like the reference
        print(f"warning: could not load transform module {path!r}: {exc}")
        return None
    fn = getattr(module, "transform", None)
    if not callable(fn):
        print(f"warning: module {path!r} has no callable 'transform'")
        return None
    return fn


#: Arrow twin of ``CANONICAL_SCHEMA`` — the batches ``mapInArrow`` yields.
_ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("vector", pa.list_(pa.float32())),
        ("metadata", pa.map_(pa.string(), pa.string())),
    ]
)


def _py(arr: pa.Array) -> list[Any]:
    """Arrow array → Python list via NumPy: for strings and floats
    several times faster than ``to_pylist``, with the same values
    (null strings read as ``None``)."""
    return arr.to_numpy(zero_copy_only=False).tolist()


def _batch_to_records(batch: pa.RecordBatch) -> list[dict[str, Any]]:
    """Canonical record batch → reference-shape dicts.

    The list and map columns are sliced by their offsets out of one
    flat Python list per child array; a per-row ``to_pylist`` on them
    is several times slower. The offsets index the un-sliced child
    arrays, so batches sliced off a larger one decode too."""
    vec = batch.column("vector")
    flat, off, ok = _py(vec.values), _py(vec.offsets), _py(vec.is_valid())
    vectors = [flat[off[i]:off[i + 1]] if ok[i] else None for i in range(len(vec))]
    meta = batch.column("metadata")
    keys, items = _py(meta.keys), _py(meta.items)
    off, ok = _py(meta.offsets), _py(meta.is_valid())
    metadata = [
        dict(zip(keys[off[i]:off[i + 1]], items[off[i]:off[i + 1]])) if ok[i] else {}
        for i in range(len(meta))
    ]
    return [
        {"id": i, "vector": v, "metadata": m}
        for i, v, m in zip(_py(batch.column("id")), vectors, metadata)
    ]


def _records_to_batch(records: list[dict[str, Any]]) -> pa.RecordBatch:
    """Reference-shape dicts → canonical record batch. Ids and metadata
    keys/values are ``str()``'d; ``None`` ids, vectors, metadata and
    metadata values stay null."""
    ids = [None if r.get("id") is None else str(r["id"]) for r in records]
    vectors = [r.get("vector") for r in records]
    metadata = [
        None
        if r.get("metadata") is None
        else {str(k): (None if v is None else str(v)) for k, v in r["metadata"].items()}
        for r in records
    ]
    return pa.RecordBatch.from_pydict(
        {"id": ids, "vector": vectors, "metadata": metadata}, schema=_ARROW_SCHEMA
    )


def apply_transform(df: DataFrame, fn: TransformFn | None) -> DataFrame:
    """Apply a reference-contract transform to a canonical DataFrame.

    Existing user transform modules written for the reference port
    unchanged: they still receive a list of ``{"id", "vector",
    "metadata"}`` dicts and return the same. Exceptions propagate and
    fail the job (the reference aborts the migration on transform
    error, ``core/migrator.py:84-87``).
    """
    if fn is None:
        return df

    def _runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = fn(_batch_to_records(batch))
            if out is None:
                raise ValueError("transform returned None (must return a list)")
            yield _records_to_batch(out)

    return df.mapInArrow(_runner, schema=CANONICAL_SCHEMA)


def add_source_tracking(
    source_db: str, timestamp: str | None = None
) -> TransformFn:
    """The reference's example transform, reference-contract style
    (``examples/add_source_tracking.py:12-47``): adds ``source_db`` and
    ``migration_timestamp`` to every item's metadata, creating the
    metadata dict if absent. ``timestamp`` is injectable for
    deterministic tests (the reference stamps ISO-now)."""
    from datetime import datetime, timezone

    stamp = timestamp or datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")

    def transform(data: list[dict[str, Any]]) -> list[dict[str, Any]]:
        for item in data:
            meta = item.get("metadata") or {}
            meta["source_db"] = source_db
            meta["migration_timestamp"] = stamp
            item["metadata"] = meta
        return data

    return transform
