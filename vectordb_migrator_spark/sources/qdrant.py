"""Qdrant adapter — partition-planned scroll reader + upsert writer.

Reference: ``adapters/qdrant.py`` — ONE ``client.scroll`` call capped
at ``limit`` (default 1000) with **silent truncation** (:99-106), and a
batched idempotent upsert of ``PointStruct`` (:214-249) with collection
DDL (:124-212).

Spark rebuild fixes the truncation and distributes both directions:

- **read** — the driver plans N shards; each executor partition opens
  its own client and *loops* the scroll cursor over its shard
  (``mapInPandas`` over a shard-spec DataFrame → canonical rows).
  Partitioning uses custom shard keys when supplied; otherwise
  ``num_partitions``/``segment_size`` trigger a driver-side id-only
  pre-pass that slices the collection into disjoint cursor segments
  (start cursor + exact row budget) so the default scan still fans
  out. With neither, a single cursor-looped partition (still
  unbounded, unlike the reference).
- **write** — ``foreachPartition``: one client per executor partition,
  points upserted in ``batch_size`` chunks. Upsert is idempotent by id
  (reference semantics), so Spark task retries are exactly-once-per-id.
- collection DDL (``VectorParams(size, distance)``, hnsw/quantization
  config — :163-186) runs once on the driver before the write.

``qdrant-client`` is not installed in this container; every client
touchpoint goes through ``_require_client`` / the injectable
``client_factory`` so unit tests drive the full read/write path with a
fake in-memory client (the reference's own test strategy,
``tests/test_qdrant_adapter.py``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA
from vectordb_migrator_spark.operators.slicing import limit_offset
from vectordb_migrator_spark.sources.base import SparkAdapter, make_write_counters

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


def _scroll_all(
    client,
    collection: str,
    *,
    batch: int,
    flt: dict[str, Any] | None,
    max_records: int | None,
    shard_key: Any | None = None,
    offset_start: Any | None = None,
) -> Iterator[dict[str, Any]]:
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
            yield {
                "id": str(p.id),
                "vector": list(p.vector) if p.vector is not None else None,
                "metadata": {str(k): str(v) for k, v in (p.payload or {}).items()},
            }
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


class QdrantAdapter(SparkAdapter):
    name = "qdrant"
    reads_vector_dimension = True  # collection DDL needs it

    def __init__(self, client_factory: Callable[[dict[str, Any]], Any] | None = None):
        self.client_factory = client_factory or _require_client

    def read(
        self, spark: SparkSession, connection: dict[str, Any], query: dict[str, Any]
    ) -> DataFrame:
        collection = query.get("collection_name", "default_collection")
        flt = query.get("filter")  # Qdrant must/key/match DSL (F2)
        # neutral predicates → server-side DSL where expressible;
        # untranslatable ones run post-scan (sources/predicates.py)
        residual: list[dict[str, Any]] = []
        if query.get("predicates"):
            from vectordb_migrator_spark.sources.predicates import (
                merge_qdrant_filters,
                split_for_qdrant,
                to_qdrant_filter,
            )

            ok, residual = split_for_qdrant(query["predicates"])
            flt = merge_qdrant_filters(flt, to_qdrant_filter(ok))
        batch = int(query.get("batch_size", 1_000))
        limit = query.get("limit")
        offset = int(query.get("offset", 0))
        factory = self.client_factory

        # Partition planning, three tiers (first match wins — shard
        # keys deliberately take precedence over num_partitions, since
        # the key tier needs NO serial driver pre-pass):
        # 1. ``shard_keys`` (custom-sharded collections) — one executor
        #    partition per key via ``shard_key_selector``.
        # 2. ``num_partitions``/``segment_size`` — driver runs an
        #    id-only scroll pass that slices the collection into cursor
        #    segments (start cursor + exact row budget); each executor
        #    partition resumes its own cursor. This is the default-scan
        #    scale path: without it a big collection funnels through ONE
        #    cursor loop. See the _plan_segments latency caveat — the
        #    pre-pass is serial on the driver.
        # 3. neither — single exhaustive cursor loop: single-partition
        #    but complete, unlike the reference's truncating single
        #    call (adapters/qdrant.py:99-106).
        import json as _json

        shard_keys = query.get("shard_keys")
        num_partitions = int(query.get("num_partitions", 0))
        segment_size = query.get("segment_size")
        if shard_keys:
            specs = [(_json.dumps(k), _json.dumps(None), None) for k in shard_keys]
        elif num_partitions > 1 or segment_size:
            planner = factory(connection)
            try:
                if not segment_size:
                    total = int(
                        planner.count(
                            collection_name=collection, count_filter=flt, exact=True
                        ).count
                    )
                    segment_size = max(1, -(-total // num_partitions))
                segments = _plan_segments(
                    planner, collection, flt=flt, segment_size=int(segment_size)
                )
            finally:
                close = getattr(planner, "close", None)
                if close:
                    close()
            specs = [
                (_json.dumps(None), _json.dumps(off), int(cnt))
                for off, cnt in segments
            ]
        else:
            specs = [(_json.dumps(None), _json.dumps(None), None)]

        shards = spark.createDataFrame(
            specs, "skey string, cursor string, budget bigint"
        ).repartition(len(specs))

        def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            client = factory(connection)
            try:
                for pdf in batches:
                    for row in pdf.itertuples():
                        skey = _json.loads(row.skey)
                        cursor = _json.loads(row.cursor)
                        budget = None if pd.isna(row.budget) else int(row.budget)
                        recs = list(
                            _scroll_all(
                                client,
                                collection,
                                batch=batch,
                                flt=flt,
                                max_records=budget,
                                shard_key=skey,
                                offset_start=cursor,
                            )
                        )
                        if recs:
                            yield pd.DataFrame(recs)
            finally:
                close = getattr(client, "close", None)
                if close:
                    close()

        df = shards.mapInPandas(_scan, schema=CANONICAL_SCHEMA)
        if residual:
            from vectordb_migrator_spark.sources.predicates import apply_residual

            df = apply_residual(df, residual)
        return limit_offset(df, limit=limit, offset=offset, order_by="id")

    def ensure_collection(
        self, connection: dict[str, Any], load: dict[str, Any], dim: int
    ) -> None:
        """Driver-side collection DDL (``adapters/qdrant.py:124-212``):
        delete+recreate when ``recreate_collection``, create when
        missing, else leave as-is."""
        client = self.client_factory(connection)
        name = load.get("collection_name", "default_collection")
        distance = DISTANCES.get(str(load.get("distance", "Cosine")).lower(), "Cosine")
        params = {
            "size": dim,
            "distance": distance,
            "on_disk": load.get("on_disk", False),
            "hnsw_config": load.get("hnsw_config"),
            "quantization_config": load.get("quantization_config"),
        }
        exists = client.collection_exists(name)
        if exists and load.get("recreate_collection"):
            client.delete_collection(name)
            exists = False
        if not exists:
            client.create_collection(collection_name=name, vectors_config=params)

    def write(
        self, df: DataFrame, connection: dict[str, Any], load: dict[str, Any]
    ) -> dict[str, Any]:
        name = load.get("collection_name", "default_collection")
        batch_size = int(load.get("batch_size", 100))
        # custom-sharded collections: route every upsert to one shard
        # key (the write twin of the reader's shard_keys fan-out) —
        # per-shard writers avoid cross-shard coordination server-side
        shard_key = load.get("shard_key")
        factory = self.client_factory

        # dim from config when provided (reference example configs use
        # `vector_dimension`); else sample the first item like the
        # reference (adapters/qdrant.py:160) via a pruned single-row
        # action. Callers that observe the write plan should pass the
        # dimension so this sniff doesn't consume their observation
        # (plans/pipeline.py does).
        if load.get("vector_dimension") is not None:
            dim = int(load["vector_dimension"])
        else:
            first = (
                df.select(F.size("vector").alias("d")).filter("d is not null").first()
            )
            dim = int(first["d"]) if first else 0
        self.ensure_collection(connection, load, dim)

        counters = make_write_counters(df)

        def _upsert(rows: Iterator[Any]) -> None:
            client = factory(connection)
            buf = []
            n = n_id = n_vec = 0

            def flush():
                if buf:
                    kwargs = {}
                    if shard_key is not None:
                        kwargs["shard_key_selector"] = shard_key
                    client.upsert(
                        collection_name=name, points=list(buf), **kwargs
                    )
                    buf.clear()

            for row in rows:
                rid = row["id"]
                # C2 — digit-string ids become ints (adapters/qdrant.py:219-222)
                pid = int(rid) if isinstance(rid, str) and rid.isdigit() else rid
                n += 1
                n_id += rid is not None
                n_vec += row["vector"] is not None
                if rid is None:
                    # C4 — null ids can't upsert idempotently; skipped,
                    # observable as total_rows - rows_with_id
                    continue
                buf.append(
                    {
                        "id": pid,
                        "vector": list(row["vector"]) if row["vector"] else None,
                        "payload": dict(row["metadata"] or {}),
                    }
                )
                if len(buf) >= batch_size:
                    flush()
            flush()
            counters["total_rows"].add(n)
            counters["rows_with_id"].add(n_id)
            counters["rows_with_vector"].add(n_vec)
            close = getattr(client, "close", None)
            if close:
                close()

        df.foreachPartition(_upsert)
        return {
            "collection": name,
            "mode": "upsert",
            "stats": {k: int(v.value) for k, v in counters.items()},
        }

    def get_schema_info(
        self, spark: SparkSession, connection: dict[str, Any], entity: str
    ) -> dict[str, Any]:
        """Collection config + 1-point payload sample
        (``adapters/qdrant.py:274-312``)."""
        client = self.client_factory(connection)
        info = client.get_collection(entity)
        sample, _ = client.scroll(
            collection_name=entity, limit=1, with_payload=True, with_vectors=False,
            offset=None, scroll_filter=None,
        )
        payload_keys = sorted((sample[0].payload or {}).keys()) if sample else []
        return {"collection": entity, "info": info, "payload_keys": payload_keys}
