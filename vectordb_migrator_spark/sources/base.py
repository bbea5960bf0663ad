"""Adapter contract — the Spark re-statement of the reference ABC.

Reference: ``core/adapter.py:12-67`` defines
``connect/disconnect/extract_data/load_data/get_schema_info`` over
driver-materialized lists. Here the contract is DataFrame-in /
DataFrame-out and connections are opened *per task* inside the scan or
sink rather than held as adapter state — adapter objects must stay
picklable and cheap because they are shipped into tasks.

The API backends (Qdrant, Milvus, Pinecone) each have one
implementation in ``sources/<backend>.py``: a partition planner that
returns JSON-able spec dicts, a scan that turns one spec into Arrow
record batches, and a sink that consumes Arrow record batches. Both
entry points call it: the :class:`SparkAdapter` subclasses through
:func:`scan_specs` / :func:`write_batches`, and the ``format(...)``
DataSources in ``sources/pyds.py``. The helpers below are the parts
the three backends share.
"""

from __future__ import annotations

import json
from abc import ABC, abstractmethod
from collections.abc import Callable, Iterable, Iterator
from itertools import islice
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA
from vectordb_migrator_spark.operators.transform import _ARROW_SCHEMA, _batch_to_records

#: one scanned point: ``(id, vector, metadata)``
PointRow = tuple[str, "list[float] | None", dict[str, str]]

#: ``client_factory(connection) -> client`` — injectable, so tests
#: substitute fake clients
Factory = Callable[[dict[str, Any]], Any]


def close_client(client: Any) -> None:
    """Close a backend client when it has a ``close`` method."""
    close = getattr(client, "close", None)
    if close:
        close()


def project(rows: Iterable[PointRow], meta_cols: list[str] | None) -> Iterator[tuple]:
    """Point rows → rows of the read schema: the canonical triple when
    ``meta_cols`` is None, else ``id, vector`` plus one string column
    per metadata key (the ``metadata_columns`` variant)."""
    if meta_cols is None:
        return iter(rows)
    return ((rid, vec, *(meta.get(c) for c in meta_cols)) for rid, vec, meta in rows)


def to_arrow(
    rows: Iterable[PointRow],
    meta_cols: list[str] | None = None,
    rows_per_batch: int = 4096,
) -> Iterator[pa.RecordBatch]:
    """Buffer point rows into record batches of the read schema, one
    columnar transfer per ~4k rows instead of one pickled row each."""
    schema = _ARROW_SCHEMA
    if meta_cols is not None:
        schema = pa.schema(
            [_ARROW_SCHEMA.field("id"), _ARROW_SCHEMA.field("vector")]
            + [pa.field(c, pa.string()) for c in meta_cols]
        )
    it = project(rows, meta_cols)
    while chunk := list(islice(it, rows_per_batch)):
        yield pa.RecordBatch.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(zip(*chunk), schema)],
            schema=schema,
        )


def sink_records(
    batches: Iterable[pa.RecordBatch],
    to_point: Callable[[dict[str, Any]], Any],
    flush: Callable[[list[Any]], None],
    batch_size: int,
) -> None:
    """The conform/flush loop every API sink runs: decode each canonical
    record batch, skip null-id rows (C4 — a null id cannot be written
    idempotently; it would alias every such row onto one point), map
    each record to the backend's point shape, and call ``flush`` with
    ``batch_size`` points at a time, buffered across record batches."""
    buf: list[Any] = []
    for rb in batches:
        ids = rb.column("id")
        if ids.type != pa.string():
            rb = rb.set_column(rb.schema.get_field_index("id"), "id", ids.cast(pa.string()))
        for rec in _batch_to_records(rb):
            if rec["id"] is None:
                continue
            buf.append(to_point(rec))
            if len(buf) >= batch_size:
                flush(buf)
                buf = []
    if buf:
        flush(buf)


def scan_specs(
    spark: SparkSession,
    specs: list[dict[str, Any]],
    scan: Callable[[dict[str, Any]], Iterator[pa.RecordBatch]],
) -> DataFrame:
    """The canonical DataFrame of a planned scan: one partition per spec,
    each running ``scan(spec)`` inside ``mapInArrow``."""
    frame = spark.createDataFrame(
        [(json.dumps(s),) for s in specs], "spec string"
    ).repartition(len(specs))

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for spec in rb.column("spec").to_pylist():
                yield from scan(json.loads(spec))

    return frame.mapInArrow(_run, CANONICAL_SCHEMA)


def write_batches(
    df: DataFrame, sink: Callable[[Iterator[pa.RecordBatch]], None]
) -> None:
    """Run ``sink`` over every partition of ``df`` as ONE SQL action
    (``mapInArrow`` into the ``noop`` writer), so observations on ``df``
    complete with the write.

    Each backend ``sink`` closes its client in ``finally: close_client``,
    which holds only for a task that ends by itself, with or without an
    error. When a job aborts, Spark cancels the sibling tasks; a
    cancelled task still running after ``spark.python.task.killTimeout``
    is killed with its Python worker and never reaches its ``finally``,
    so its client is released only when that worker process exits."""

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sink(batches)
        return iter(())

    df.mapInArrow(_run, "done boolean").write.format("noop").mode("overwrite").save()


class SparkAdapter(ABC):
    """One backend's read/write edge.

    ``read`` returns the *canonical* DataFrame (``id``, ``vector``,
    ``metadata`` — see ``canonical.CANONICAL_SCHEMA``) with the
    reference's query params (projection / filter / limit / offset,
    ``adapters/pgvector.py:64-108``) applied as lazy DataFrame ops so
    Catalyst pushes them into the scan.

    ``write`` consumes a canonical DataFrame. Sinks should be
    idempotent-by-id upserts where the backend allows (the Qdrant
    model, ``adapters/qdrant.py:224-247``) so Spark task retries are
    safe; append-only sinks must document the weaker guarantee.
    """

    name: str = "base"

    #: True when ``write`` reads ``load["vector_dimension"]`` (and would
    #: sniff it from the data when absent). ``Migrator.migrate``
    #: pre-resolves the dimension only for such sinks.
    reads_vector_dimension: bool = False

    @abstractmethod
    def read(
        self,
        spark: SparkSession,
        connection: dict[str, Any],
        query: dict[str, Any],
    ) -> DataFrame: ...

    @abstractmethod
    def write(
        self,
        df: DataFrame,
        connection: dict[str, Any],
        load: dict[str, Any],
    ) -> dict[str, Any]:
        """Write ``df`` and return a description of the target (the
        Milvus sink's result shape, ``adapters/milvus.py:266-291``).

        Contract: the write runs exactly ONE SQL action over the frame
        it is given (``df.write…`` or :func:`write_batches`) and no
        other action on it. ``Migrator.migrate`` counts rows with an
        ``Observation`` on ``df``; an RDD action never completes it and
        ``Observation.get`` would never return, while an extra action
        (a ``first()`` sniff, say) completes it with that action's
        partial counts."""

    def get_schema_info(
        self, spark: SparkSession, connection: dict[str, Any], entity: str
    ) -> dict[str, Any]:
        """Catalog introspection (``core/adapter.py:57-67``)."""
        raise NotImplementedError
