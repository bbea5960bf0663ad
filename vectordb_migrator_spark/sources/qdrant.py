"""Qdrant — partition-planned scroll reader + upsert writer.

Reference: ``adapters/qdrant.py`` — ONE ``client.scroll`` call capped
at ``limit`` (default 1000) with **silent truncation** (:99-106), and a
batched idempotent upsert of ``PointStruct`` (:214-249) with collection
DDL (:124-212).

The Spark rebuild fixes the truncation and distributes both
directions. This module is the one Qdrant implementation; the
:class:`QdrantAdapter` below and ``format("qdrant")``
(``sources/pyds.py``) both call it:

- :func:`plan_partitions` — custom shard keys when supplied; otherwise
  ``num_partitions``/``segment_size`` trigger a driver-side id-only
  pre-pass that slices the collection into disjoint cursor segments
  (start cursor + exact row budget) so the default scan still fans
  out. With neither, a single cursor-looped partition (still
  unbounded, unlike the reference).
- :func:`scan` — one client per partition, looping the scroll cursor
  over its spec and yielding Arrow record batches.
- :func:`ensure_collection` — collection DDL (``VectorParams(size,
  distance)``, hnsw/quantization config — :163-186), once on the
  driver before the write.
- :func:`sink` — one client per task, points upserted in
  ``batch_size`` chunks. Upsert is idempotent by id (reference
  semantics), so Spark task retries are exactly-once-per-id.

``qdrant-client`` is not installed in this container; every client
touchpoint goes through ``_require_client`` / the injectable
``client_factory`` so unit tests drive the full read/write path with a
fake in-memory client (the reference's own test strategy,
``tests/test_qdrant_adapter.py``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

#: Reference distance-name mapping (adapters/qdrant.py:163-169).
DISTANCES = {"cosine": "Cosine", "euclid": "Euclid", "dot": "Dot"}


def _require_client(connection: dict[str, Any]):
    try:
        from qdrant_client import QdrantClient
    except ImportError as exc:  # pragma: no cover - optional dep
        raise ImportError(
            "qdrant-client is required for a live Qdrant connection; "
            "inject client_factory for testing"
        ) from exc
    return QdrantClient(
        host=connection.get("host", "localhost"),
        port=connection.get("port", 6333),
        api_key=connection.get("api_key"),
    )


def coerce_id(v: Any) -> Any:
    """C2 (``adapters/qdrant.py:219-222``): digit strings → int, so
    upserts and ``has_id`` filters match integer point ids."""
    return int(v) if isinstance(v, str) and v.isdigit() else v


def point_row(p: Any) -> PointRow:
    """One scrolled point → ``(id, vector, metadata)``."""
    return (
        str(p.id),
        list(p.vector) if p.vector is not None else None,
        {str(k): str(v) for k, v in (p.payload or {}).items()},
    )


def _scroll_all(
    client,
    collection: str,
    *,
    batch: int,
    flt: dict[str, Any] | None,
    max_records: int | None,
    shard_key: Any | None = None,
    offset_start: Any | None = None,
) -> Iterator[PointRow]:
    """Loop the scroll cursor to exhaustion — the pagination loop the
    reference is missing (its single call truncates at `limit`).
    ``shard_key`` scopes the scroll to one custom shard for parallel
    partition-planned reads; ``offset_start`` resumes mid-collection
    from a server-issued cursor (segmented parallel scans)."""
    offset = offset_start
    fetched = 0
    while True:
        page_size = batch if max_records is None else min(batch, max_records - fetched)
        if page_size <= 0:
            return
        kwargs: dict[str, Any] = {}
        if shard_key is not None:
            kwargs["shard_key_selector"] = shard_key
        points, offset = client.scroll(
            collection_name=collection,
            limit=page_size,
            offset=offset,
            with_payload=True,
            with_vectors=True,
            scroll_filter=flt,
            **kwargs,
        )
        for p in points:
            yield point_row(p)
        fetched += len(points)
        if offset is None or not points:
            return


def _plan_segments(
    client,
    collection: str,
    *,
    flt: dict[str, Any] | None,
    segment_size: int,
) -> list[tuple[Any, int]]:
    """Driver-side segmentation of an unsharded collection: one id-only
    scroll pass paging at ``segment_size``, recording each page's start
    cursor and exact row budget. Cursors are passed back verbatim, so
    this works for int and UUID point ids alike; the pre-pass moves only
    ids (no payloads/vectors), a tiny fraction of the corpus.

    LATENCY CAVEAT — the pre-pass is a SERIAL driver loop: one scroll
    round-trip per segment, before any executor starts. At 10⁹ points
    with ~10⁶-row segments that is ~1000 sequential id-page calls —
    minutes of driver wall-clock on a cold cache. It is also the only
    portable cursor-segmentation primitive the public Qdrant API
    offers (point ids expose no ordered-range query to split without
    scrolling, and shard-key VALUES are caller-defined — not
    enumerable from collection info). Mitigations, in order:

    - **Prefer the ``shard_keys`` tier** on custom-sharded collections
      (pass the key values; selection wins over ``num_partitions`` —
      no pre-pass at all, partitions start immediately).
    - Size ``segment_size`` large (fewer, coarser round-trips); each
      executor partition still pages internally at ``batch_size``.
    - Reuse a segmentation across repeated scans of a static
      collection (the cursors stay valid while points are stable).
    """
    segments: list[tuple[Any, int]] = []
    offset = None
    while True:
        points, nxt = client.scroll(
            collection_name=collection,
            limit=segment_size,
            offset=offset,
            with_payload=False,
            with_vectors=False,
            scroll_filter=flt,
        )
        if not points:
            break
        segments.append((offset, len(points)))
        if nxt is None:
            break
        offset = nxt
    return segments or [(None, 0)]


def plan_partitions(
    factory: Factory, connection: dict[str, Any], query: dict[str, Any]
) -> list[dict[str, Any]]:
    """Scan specs, three tiers (first match wins — shard keys
    deliberately take precedence over num_partitions, since the key
    tier needs NO serial driver pre-pass):

    1. ``shard_keys`` (custom-sharded collections) — one partition per
       key via ``shard_key_selector``: ``{"shard_key": k}``.
    2. ``num_partitions``/``segment_size`` — the driver runs an id-only
       scroll pass (see the :func:`_plan_segments` latency caveat) and
       each partition resumes its own cursor: ``{"cursor", "budget"}``.
    3. neither — one exhaustive cursor loop, ``{}``: single-partition
       but complete, unlike the reference's truncating single call
       (adapters/qdrant.py:99-106).
    """
    if query.get("shard_keys"):
        return [{"shard_key": k} for k in query["shard_keys"]]
    num_partitions = int(query.get("num_partitions", 0))
    segment_size = query.get("segment_size")
    if not (num_partitions > 1 or segment_size):
        return [{}]
    collection = query.get("collection_name", "default_collection")
    flt = query.get("filter")
    client = factory(connection)
    try:
        if not segment_size:
            total = int(
                client.count(collection_name=collection, count_filter=flt, exact=True).count
            )
            segment_size = max(1, -(-total // num_partitions))
        segments = _plan_segments(client, collection, flt=flt, segment_size=int(segment_size))
    finally:
        close_client(client)
    return [{"cursor": off, "budget": cnt} for off, cnt in segments]


def scan(
    factory: Factory,
    connection: dict[str, Any],
    query: dict[str, Any],
    spec: dict[str, Any],
    meta_cols: list[str] | None = None,
) -> Iterator[pa.RecordBatch]:
    """Scroll one spec's points (``query["filter"]`` is the Qdrant
    must/must_not DSL) into record batches of the read schema."""
    client = factory(connection)
    try:
        points = _scroll_all(
            client,
            query.get("collection_name", "default_collection"),
            batch=int(query.get("batch_size", 1_000)),
            flt=query.get("filter"),
            max_records=spec.get("budget"),
            shard_key=spec.get("shard_key"),
            offset_start=spec.get("cursor"),
        )
        yield from to_arrow(points, meta_cols)
    finally:
        close_client(client)


def ensure_collection(
    factory: Factory, connection: dict[str, Any], load: dict[str, Any]
) -> None:
    """Driver-side collection DDL (``adapters/qdrant.py:124-212``):
    delete+recreate when ``recreate_collection``, create when missing
    (which needs ``vector_dimension``), else leave as-is."""
    name = load.get("collection_name", "default_collection")
    client = factory(connection)
    try:
        exists = client.collection_exists(name)
        if exists and load.get("recreate_collection"):
            client.delete_collection(name)
            exists = False
        if exists:
            return
        if load.get("vector_dimension") is None:
            raise ValueError(
                f"creating collection {name!r} needs the vector_dimension option"
            )
        params = {
            "size": int(load["vector_dimension"]),
            "distance": DISTANCES.get(str(load.get("distance", "Cosine")).lower(), "Cosine"),
            "on_disk": bool(load.get("on_disk", False)),
            "hnsw_config": load.get("hnsw_config"),
            "quantization_config": load.get("quantization_config"),
        }
        client.create_collection(collection_name=name, vectors_config=params)
    finally:
        close_client(client)


def _point(rec: dict[str, Any]) -> dict[str, Any]:
    return {
        "id": coerce_id(rec["id"]),
        "vector": rec["vector"] or None,
        "payload": rec["metadata"],
    }


def sink(
    factory: Factory,
    connection: dict[str, Any],
    load: dict[str, Any],
    batches: Iterable[pa.RecordBatch],
) -> None:
    """Upsert canonical record batches in ``batch_size`` chunks. A
    ``shard_key`` routes every upsert to one custom shard (the write
    twin of the reader's ``shard_keys`` fan-out)."""
    name = load.get("collection_name", "default_collection")
    kwargs = {}
    if load.get("shard_key") is not None:
        kwargs["shard_key_selector"] = load["shard_key"]
    client = factory(connection)
    try:
        sink_records(
            batches,
            _point,
            lambda points: client.upsert(collection_name=name, points=points, **kwargs),
            int(load.get("batch_size", 100)),
        )
    finally:
        close_client(client)


class QdrantAdapter(SparkAdapter):
    name = "qdrant"
    reads_vector_dimension = True  # collection DDL needs it

    def __init__(self, client_factory: Factory | None = None):
        self.client_factory = client_factory or _require_client

    def read(
        self, spark: SparkSession, connection: dict[str, Any], query: dict[str, Any]
    ) -> DataFrame:
        # neutral predicates → server-side DSL where expressible;
        # untranslatable ones run post-scan (sources/predicates.py)
        query = dict(query)
        residual: list[dict[str, Any]] = []
        if query.get("predicates"):
            from vectordb_migrator_spark.sources.predicates import (
                merge_qdrant_filters,
                split_for_qdrant,
                to_qdrant_filter,
            )

            ok, residual = split_for_qdrant(query["predicates"])
            query["filter"] = merge_qdrant_filters(query.get("filter"), to_qdrant_filter(ok))
        factory = self.client_factory
        specs = plan_partitions(factory, connection, query)
        df = scan_specs(spark, specs, partial(scan, factory, connection, query))
        if residual:
            from vectordb_migrator_spark.sources.predicates import apply_residual

            df = apply_residual(df, residual)
        return limit_offset(
            df, limit=query.get("limit"), offset=int(query.get("offset", 0)), order_by="id"
        )

    def write(
        self, df: DataFrame, connection: dict[str, Any], load: dict[str, Any]
    ) -> dict[str, Any]:
        load = dict(load)
        # dim from config when provided (reference example configs use
        # `vector_dimension`; Migrator.migrate always passes it); else
        # sample the first item like the reference (adapters/qdrant.py:
        # 160) via a pruned single-row action
        if load.get("vector_dimension") is None:
            first = df.select(F.size("vector").alias("d")).filter("d is not null").first()
            load["vector_dimension"] = int(first["d"]) if first else 0
        ensure_collection(self.client_factory, connection, load)
        write_batches(df, partial(sink, self.client_factory, connection, load))
        return {"collection": load.get("collection_name", "default_collection"), "mode": "upsert"}

    def get_schema_info(
        self, spark: SparkSession, connection: dict[str, Any], entity: str
    ) -> dict[str, Any]:
        """Collection config + 1-point payload sample
        (``adapters/qdrant.py:274-312``)."""
        client = self.client_factory(connection)
        try:
            info = client.get_collection(entity)
            sample, _ = client.scroll(
                collection_name=entity, limit=1, with_payload=True, with_vectors=False,
                offset=None, scroll_filter=None,
            )
        finally:
            close_client(client)
        payload_keys = sorted((sample[0].payload or {}).keys()) if sample else []
        return {"collection": entity, "info": info, "payload_keys": payload_keys}
