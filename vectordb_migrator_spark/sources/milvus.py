"""Milvus — schema-driven reader + conform-on-write upsert sink.

Reference: ``adapters/milvus.py`` — schema introspection picks the PK,
the first FLOAT_VECTOR/BINARY_VECTOR field, and scalar metadata fields
(:70-95); ``collection.query(expr, output_fields, limit, offset)``
extracts (:96-130); the sink refuses DDL (:155-158), pivots rows to
columnar lists (:182-255), and reports detailed accounting (:266-291).

This module is the one Milvus implementation; the
:class:`MilvusAdapter` below and ``format("milvus")``
(``sources/pyds.py``) both call it:

- :func:`describe` — schema introspection on the driver; the sink
  requires a pre-existing collection (reference refusal semantics).
- :func:`plan_partitions` — one spec per PK residue class, so N tasks
  each ``query`` a disjoint shard. Filter exprs (F3) pass through to
  ``expr`` verbatim; neutral predicates compile into it.
- :func:`scan` — one client per partition, records → Arrow batches.
- :func:`sink` — rows missing the PK are dropped (C4, :188-192);
  unknown metadata keys dropped, missing keys null-filled and values
  coerced to the declared field types (C6, :224-233); rows upserted
  by pk, so a retried task or a replayed microbatch converges.

``pymilvus`` is optional — all touchpoints go through the injectable
``client_factory``; unit tests use fakes (reference strategy,
``tests/test_milvus_adapter.py``).
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
        from pymilvus import MilvusClient
    except ImportError as exc:  # pragma: no cover - optional dep
        raise ImportError(
            "pymilvus is required for a live Milvus connection; "
            "inject client_factory for testing"
        ) from exc
    uri = connection.get("uri") or (
        f"http://{connection.get('host', 'localhost')}:{connection.get('port', 19530)}"
    )
    return MilvusClient(uri=uri, token=connection.get("token", ""))


def plan_fields(schema_info: dict[str, Any]) -> tuple[str, str | None, list[str]]:
    """Pick (pk, vector_field, scalar_fields) from a collection schema —
    the reference's introspection logic (``adapters/milvus.py:70-95``):
    PK from ``is_primary``, vector = first FLOAT_VECTOR/BINARY_VECTOR,
    everything else scalar metadata. Vector may be absent (:90-93)."""
    pk = None
    vector_field = None
    scalars: list[str] = []
    for f_ in schema_info.get("fields", []):
        if f_.get("is_primary"):
            pk = f_["name"]
        elif f_.get("type") in ("FLOAT_VECTOR", "BINARY_VECTOR"):
            if vector_field is None:
                vector_field = f_["name"]
        else:
            scalars.append(f_["name"])
    if pk is None:
        raise ValueError("collection schema has no primary key")
    return pk, vector_field, scalars


INT_TYPES = ("INT64", "INT32", "INT16", "INT8")
_FLOAT_TYPES = ("FLOAT", "DOUBLE")


def field_types(schema_info: dict[str, Any]) -> dict[str, str]:
    """name → declared Milvus type, for write-side value coercion."""
    return {
        f_["name"]: f_.get("type", "VARCHAR")
        for f_ in schema_info.get("fields", [])
    }


def coerce_to_field_type(val: Any, milvus_type: str) -> Any:
    """Coerce a canonical (stringified) value to the collection's
    declared scalar type before insert. The reference preserves source
    types end-to-end so an INT64-PK collection receives ints; the
    canonical pipeline stringifies, so without this back-coercion
    pymilvus rejects the rows (string PK into INT64). Mirrors the C2
    coercion the Qdrant writer applies to digit-string ids.

    A value that does not parse as the declared numeric type (e.g.
    metadata '3.5' or '' destined for INT64) null-fills instead of
    raising — a ValueError inside the write task would fail it AFTER
    partial inserts; null-fill is the same conform-to-schema (C6)
    behavior the reader applies."""
    if val is None:
        return None
    if milvus_type in INT_TYPES:
        try:
            return int(val)
        except (ValueError, TypeError):
            return None
    if milvus_type in _FLOAT_TYPES:
        try:
            return float(val)
        except (ValueError, TypeError):
            return None
    if milvus_type == "BOOL":
        if isinstance(val, bool):
            return val
        return str(val).strip().lower() in ("true", "1", "t", "yes")
    return str(val)


def describe(
    factory: Factory, connection: dict[str, Any], cfg: dict[str, Any], *, sink: bool = False
) -> dict[str, Any]:
    """Driver-side ``describe_collection`` of ``cfg["collection_name"]``.
    The sink performs no DDL — the reference refuses to create
    collections (``adapters/milvus.py:155-158``) — so a missing
    collection is an error on both sides."""
    collection = cfg.get("collection_name")
    if not collection:
        raise ValueError(f"milvus {'sink' if sink else 'source'} requires 'collection_name'")
    client = factory(connection)
    try:
        if not client.has_collection(collection):
            if sink:
                raise ValueError(
                    f"collection {collection!r} must exist before loading "
                    "(the milvus sink performs no DDL)"
                )
            raise ValueError(f"collection {collection!r} does not exist")
        return client.describe_collection(collection)
    finally:
        close_client(client)


def point_row(r: dict[str, Any], pk: str, vec: str | None, scalars: list[str]) -> PointRow:
    """One queried entity → ``(id, vector, metadata)``; None-valued
    metadata keys are omitted (P3, ``adapters/milvus.py:120``)."""
    return (
        str(r[pk]),
        [float(x) for x in r[vec]] if vec and r.get(vec) is not None else None,
        {k: str(r[k]) for k in scalars if r.get(k) is not None},
    )


def query_all(
    client, collection: str, expr: str, fields: list[str], page: int
) -> Iterator[dict[str, Any]]:
    """Every entity matching ``expr`` through ``query_iterator`` — the
    pymilvus API whose contract is complete traversal in pages."""
    it = client.query_iterator(
        collection_name=collection, filter=expr, output_fields=fields, batch_size=page
    )
    try:
        while batch := it.next():
            yield from batch
    finally:
        close_client(it)


def plan_partitions(query: dict[str, Any], info: dict[str, Any]) -> list[dict[str, Any]]:
    """Each spec queries a disjoint PK residue class (``pk % N == i``)
    so N tasks scan in parallel with NO overlap — the predicate is
    evaluated server-side, the Milvus analogue of JDBC partitionColumn
    ranges. Requires an integer PK; otherwise one spec."""
    pk = plan_fields(info)[0]
    n = int(query.get("num_partitions", 1)) if field_types(info).get(pk) in INT_TYPES else 1
    n = max(n, 1)
    return [{"shard": i, "of": n} for i in range(n)]


def shard_expr(query: dict[str, Any], info: dict[str, Any], spec: dict[str, Any]) -> str:
    """The filter one spec sends: the ``filter_expr`` passthrough (F3),
    the compiled neutral ``predicates`` and the spec's residue
    conjunct, ANDed."""
    from vectordb_migrator_spark.sources.predicates import to_milvus_expr

    pk = plan_fields(info)[0]
    parts = [f"({query['filter_expr']})"] if query.get("filter_expr") else []
    if query.get("predicates"):
        pk_is_int = field_types(info).get(pk) in INT_TYPES
        parts.append(to_milvus_expr(query["predicates"], pk=pk, pk_is_int=pk_is_int))
    of = spec.get("of", 1)
    if of > 1:
        # non-negative residue: Milvus evaluates % with C semantics,
        # so a negative INT64 PK yields a negative remainder that
        # matches NO shard — plain `pk % N == i` silently loses every
        # negative-PK row when num_partitions > 1
        parts.append(f"((({pk} % {of}) + {of}) % {of}) == {spec['shard']}")
    return " and ".join(parts)


def scan(
    factory: Factory,
    connection: dict[str, Any],
    query: dict[str, Any],
    info: dict[str, Any],
    spec: dict[str, Any],
    meta_cols: list[str] | None = None,
) -> Iterator[pa.RecordBatch]:
    """Query one spec's shard into record batches of the read schema."""
    collection = query["collection_name"]
    pk, vec, scalars = plan_fields(info)
    fields = [pk] + ([vec] if vec else []) + scalars
    expr = shard_expr(query, info, spec)
    client = factory(connection)
    try:
        if hasattr(client, "query_iterator"):
            recs = query_all(client, collection, expr, fields, int(query.get("batch_size", 1_000)))
        else:
            recs = client.query(collection_name=collection, filter=expr, output_fields=fields)
        yield from to_arrow((point_row(r, pk, vec, scalars) for r in recs), meta_cols)
    finally:
        close_client(client)


def sink(
    factory: Factory,
    connection: dict[str, Any],
    load: dict[str, Any],
    info: dict[str, Any],
    batches: Iterable[pa.RecordBatch],
) -> None:
    """Write canonical record batches, conformed to the collection
    schema, in ``batch_size`` chunks, through the client's
    idempotent-by-pk ``upsert`` (public MilvusClient API since pymilvus
    2.3), so a retried batch task or a replayed microbatch leaves one
    row per pk. A client without ``upsert`` falls back to append-only
    ``insert``, where a retried task can duplicate rows (the
    reference's partial-success caveat, ``adapters/milvus.py:266-291``)."""
    pk, vec, scalars = plan_fields(info)
    types = field_types(info)

    def to_point(rec: dict[str, Any]) -> dict[str, Any]:
        # id and scalars coerced to the collection's declared types
        # (an INT64-PK collection must receive ints, not the canonical
        # strings); C6 — unknown keys dropped, missing keys null-filled
        out = {pk: coerce_to_field_type(rec["id"], types.get(pk, "VARCHAR"))}
        if vec:
            out[vec] = rec["vector"] or None
        meta = rec["metadata"]
        for k in scalars:
            out[k] = coerce_to_field_type(meta.get(k), types.get(k, "VARCHAR"))
        return out

    client = factory(connection)
    try:
        op = getattr(client, "upsert", None) or client.insert
        sink_records(
            batches,
            to_point,
            lambda rows: op(collection_name=load["collection_name"], data=rows),
            int(load.get("batch_size", 1_000)),
        )
    finally:
        close_client(client)


class MilvusAdapter(SparkAdapter):
    name = "milvus"

    def __init__(self, client_factory: Factory | None = None):
        self.client_factory = client_factory or _require_client

    def read(
        self, spark: SparkSession, connection: dict[str, Any], query: dict[str, Any]
    ) -> DataFrame:
        info = describe(self.client_factory, connection, query)
        df = scan_specs(
            spark,
            plan_partitions(query, info),
            partial(scan, self.client_factory, connection, dict(query), info),
        )
        return limit_offset(
            df,
            limit=query.get("limit"),
            offset=int(query.get("offset", 0)),
            order_by="id",
        )

    def write(
        self, df: DataFrame, connection: dict[str, Any], load: dict[str, Any]
    ) -> dict[str, Any]:
        info = describe(self.client_factory, connection, load, sink=True)
        write_batches(df, partial(sink, self.client_factory, connection, dict(load), info))
        return {"collection": load["collection_name"]}

    def get_schema_info(
        self, spark: SparkSession, connection: dict[str, Any], entity: str
    ) -> dict[str, Any]:
        """``Collection.schema`` fields/PK/auto_id
        (``adapters/milvus.py:329-358``)."""
        return describe(self.client_factory, connection, {"collection_name": entity})
