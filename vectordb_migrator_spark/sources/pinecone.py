"""Pinecone — the reference's *intended* (never shipped) edge.

Reference: ``adapters/pinecone.py`` is 0 bytes (SURVEY.md header note);
the intended surface is reconstructed from
``examples/pinecone_to_pgvector_config.json`` (source: ``index_name``,
``namespace``, ``batch_size``), ``examples/pgvector_to_pinecone_config.json``
(sink: ``create_index``, ``dimension``, ``metric``, ``namespace``), and
``tests/test_pinecone_adapter.py:38-42`` (client surface:
``Pinecone(api_key)``, ``list_indexes``).

This module is the one Pinecone implementation; the
:class:`PineconeAdapter` below and ``format("pinecone")``
(``sources/pyds.py``) both call it:

- :func:`plan_partitions` — one spec per configured id prefix (the
  list API's ``prefix`` argument is its only parallel axis).
- :func:`scan` — pages ``index.list()`` id batches and ``fetch()``-es
  them into Arrow record batches.
- :func:`ensure_index` — driver-side index DDL when ``create_index``.
- :func:`sink` — upserts ``(id, values, metadata)`` records in
  ``batch_size`` chunks (idempotent by id → retry-safe).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from vectordb_migrator_spark.operators.slicing import limit_offset
from vectordb_migrator_spark.sources.base import (
    Factory,
    PointRow,
    SparkAdapter,
    close_client,
    scan_specs,
    sink_records,
    to_arrow,
    write_batches,
)


def _require_client(connection: dict[str, Any]):
    try:
        from pinecone import Pinecone
    except ImportError as exc:  # pragma: no cover - optional dep
        raise ImportError(
            "pinecone client is required for a live connection; "
            "inject client_factory for testing"
        ) from exc
    return Pinecone(api_key=connection.get("api_key", ""))


def index_name(cfg: dict[str, Any], role: str) -> str:
    if not cfg.get("index_name"):
        raise ValueError(f"pinecone {role} requires 'index_name'")
    return cfg["index_name"]


def point_row(vid: Any, v: dict[str, Any]) -> PointRow:
    """One fetched vector record → ``(id, vector, metadata)``."""
    return (
        str(vid),
        list(v["values"]) if v.get("values") else None,
        {str(k): str(x) for k, x in (v.get("metadata") or {}).items()},
    )


def fetch_rows(index, ids: list[str], namespace: str) -> list[PointRow]:
    fetched = index.fetch(ids=ids, namespace=namespace)
    vectors = getattr(fetched, "vectors", None) or fetched["vectors"]
    return [point_row(vid, v) for vid, v in vectors.items()]


def plan_partitions(query: dict[str, Any]) -> list[dict[str, Any]]:
    return [{"prefix": p} for p in query.get("id_prefixes") or [""]]


def scan(
    factory: Factory,
    connection: dict[str, Any],
    query: dict[str, Any],
    spec: dict[str, Any],
    meta_cols: list[str] | None = None,
) -> Iterator[pa.RecordBatch]:
    """List and fetch one prefix's vectors into record batches of the
    read schema."""
    namespace = query.get("namespace", "")
    client = factory(connection)
    try:
        index = client.Index(query["index_name"])
        rows = (
            row
            for page in index.list(
                prefix=spec["prefix"] or None,
                namespace=namespace,
                limit=int(query.get("batch_size", 100)),
            )
            for row in fetch_rows(index, list(page), namespace)
        )
        yield from to_arrow(rows, meta_cols)
    finally:
        close_client(client)


def ensure_index(factory: Factory, connection: dict[str, Any], load: dict[str, Any]) -> None:
    """Driver-side index DDL (``create_index`` + ``dimension`` +
    ``metric`` — the reference's intended sink config,
    ``examples/pgvector_to_pinecone_config.json:21-28``)."""
    if not load.get("create_index"):
        return
    name = index_name(load, "sink")
    client = factory(connection)
    try:
        if name not in [getattr(i, "name", i) for i in client.list_indexes()]:
            client.create_index(
                name=name,
                dimension=int(load.get("dimension", 0)),
                metric=load.get("metric", "cosine"),
            )
    finally:
        close_client(client)


def _point(rec: dict[str, Any]) -> dict[str, Any]:
    return {"id": rec["id"], "values": rec["vector"] or [], "metadata": rec["metadata"]}


def sink(
    factory: Factory,
    connection: dict[str, Any],
    load: dict[str, Any],
    batches: Iterable[pa.RecordBatch],
) -> None:
    """Upsert canonical record batches in ``batch_size`` chunks."""
    namespace = load.get("namespace", "")
    client = factory(connection)
    try:
        index = client.Index(load["index_name"])
        sink_records(
            batches,
            _point,
            lambda vectors: index.upsert(vectors=vectors, namespace=namespace),
            int(load.get("batch_size", 100)),
        )
    finally:
        close_client(client)


class PineconeAdapter(SparkAdapter):
    name = "pinecone"

    def __init__(self, client_factory: Factory | None = None):
        self.client_factory = client_factory or _require_client

    def read(
        self, spark: SparkSession, connection: dict[str, Any], query: dict[str, Any]
    ) -> DataFrame:
        index_name(query, "source")
        df = scan_specs(
            spark,
            plan_partitions(query),
            partial(scan, self.client_factory, connection, dict(query)),
        )
        if query.get("predicates"):
            # the fetch-by-id read path has no server-side filter —
            # every neutral predicate evaluates post-scan
            from vectordb_migrator_spark.sources.predicates import apply_residual

            df = apply_residual(df, query["predicates"])
        return limit_offset(
            df,
            limit=query.get("limit"),
            offset=int(query.get("offset", 0)),
            order_by="id",
        )

    def write(
        self, df: DataFrame, connection: dict[str, Any], load: dict[str, Any]
    ) -> dict[str, Any]:
        name = index_name(load, "sink")
        ensure_index(self.client_factory, connection, load)
        write_batches(df, partial(sink, self.client_factory, connection, dict(load)))
        return {"index": name, "namespace": load.get("namespace", ""), "mode": "upsert"}

    def get_schema_info(
        self, spark: SparkSession, connection: dict[str, Any], entity: str
    ) -> dict[str, Any]:
        client = self.client_factory(connection)
        try:
            stats = client.Index(entity).describe_index_stats()
        finally:
            close_client(client)
        return {"index": entity, "stats": stats}
