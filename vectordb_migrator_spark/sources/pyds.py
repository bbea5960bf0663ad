"""Spark 4 Python DataSource API surface for the Qdrant, Milvus and
Pinecone connectors.

``spark.read.format("qdrant")`` / ``df.write.format("qdrant")`` (and
``milvus`` / ``pinecone``) parse their string options into the same
config dicts the ``Migrator`` adapters take and call the same backend
implementation (``sources/{qdrant,milvus,pinecone}.py``): its
partition planner becomes the reader's input partitions, its scan the
reader's ``read``, its DDL runs on the driver when the writer is
created, and its sink is every writer's ``write``. What this module
adds is Spark's own planner hooks:

- **Filter pushdown is native Catalyst.** ``DataSourceReader
  .pushFilters`` receives the query's conjunctive ``Filter`` list and
  translates the expressible subset through ``sources/predicates.py``
  into Qdrant's must/must_not DSL (or a Milvus expr), so
  ``df.filter(col("category") == "news")`` composed over a connector
  scan runs server-side — closing SURVEY §4 custom-work #1 at the
  optimizer layer rather than via config. Untranslatable filters are
  returned to Spark and evaluated post-scan (always correct, merely
  less pruned).
- **Writers are Arrow writers**, batch (``DataSourceArrowWriter``) and
  streaming (``DataSourceStreamArrowWriter``) alike, so every sink
  entry point feeds the backend sink record batches.
  ``mode("overwrite")`` maps to Qdrant's ``recreate_collection``
  branch (``adapters/qdrant.py:188-212``).
- **Streaming sink** (``writeStream.format(...)``): the reference's
  declared-but-unbuilt incremental migration (``README.md:286``) as a
  native Structured Streaming sink, exactly-once-per-id because
  replayed microbatches re-upsert the same ids.
- **Streaming sources** (``readStream.format(...)``): incremental
  extraction via a checkpointed offset — a Qdrant scroll cursor, a
  Milvus integer-PK watermark, a Pinecone id watermark. Combined with
  the sink, a complete streaming migration is one lazy
  ``readStream → writeStream`` pipeline.

Semantics note on ``!=`` pushdown: Qdrant's ``must_not match`` keeps
points that lack the key entirely, while Spark's three-valued logic
drops NULLs. ``ne`` filters are therefore *partially* pushed — sent
server-side to cut wire traffic AND returned from ``pushFilters`` so
Spark re-evaluates them (the API explicitly allows partial pushdown).
``eq``/``in`` agree in both systems (missing key matches nothing) and
are fully consumed.

Schema: canonical ``id string, vector array<float>, metadata
map<string,string>`` by default. With ``metadata_columns`` (CSV
option) the payload is exposed pgvector-style as one top-level string
column per key (SURVEY §1.4's "typed variant") — which is what makes
payload predicates visible to ``pushFilters`` at all: Spark only
pushes filters on top-level columns, never through ``metadata[key]``
item lookups.

The backend client libraries are not installed in this container, so
the client is built via the ``client_factory`` option — an importable
``"module:attr"`` string; unit tests inject the file-backed fakes from
``tests/fake_backends.py``.
"""

from __future__ import annotations

import importlib
import json
from functools import partial
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    Not,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA
from vectordb_migrator_spark.sources import milvus, pinecone, qdrant
from vectordb_migrator_spark.sources.base import close_client, project
from vectordb_migrator_spark.sources.predicates import (
    merge_qdrant_filters,
    split_for_qdrant,
    to_qdrant_filter,
)

# ------------------------------------------------------------- options

#: option keys that carry JSON, integers and booleans — the inverse of
#: how ``StreamMigrator`` flattens config sections into options
_JSON_OPTIONS = {
    "filter", "shard_keys", "shard_key", "id_prefixes", "hnsw_config",
    "quantization_config",
}
_INT_OPTIONS = {
    "batch_size", "num_partitions", "segment_size", "vector_dimension",
    "dimension", "page_size",
}
_BOOL_OPTIONS = {"recreate_collection", "on_disk", "create_index"}


def _config(options: dict[str, str]) -> dict[str, Any]:
    """String options → the backend's query/load config dict."""
    cfg: dict[str, Any] = {}
    for k, v in options.items():
        if v == "":
            continue
        if k in _JSON_OPTIONS:
            try:
                v = json.loads(v)
            except ValueError:
                pass  # a bare string, e.g. a shard key
        elif k in _INT_OPTIONS:
            v = int(v)
        elif k in _BOOL_OPTIONS:
            v = v.lower() == "true"
        cfg[k] = v
    return cfg


def _connection(options: dict[str, str]) -> dict[str, Any]:
    conn: dict[str, Any] = {}
    if options.get("connection"):
        conn.update(json.loads(options["connection"]))
    for k in ("host", "api_key", "store_dir"):
        if options.get(k):
            conn[k] = options[k]
    if options.get("port"):
        conn["port"] = int(options["port"])
    for flag in ("record_scrolls", "record_queries"):
        if options.get(flag):
            conn[flag] = options[flag].lower() == "true"
    return conn


def _factory(options: dict[str, str], default: Callable) -> Callable:
    """``client_factory`` option ``"module:attr"`` → callable(connection)
    -> client; the backend's live client when absent."""
    spec = options.get("client_factory")
    if not spec:
        return default
    mod, _, attr = spec.partition(":")
    fn = getattr(importlib.import_module(mod), attr)
    if not callable(fn):
        raise TypeError(f"client_factory {spec!r} is not callable")
    return fn


def _parse(options: dict[str, str], backend: Any) -> tuple[Callable, dict, dict]:
    """Options → (client factory, connection, config) for ``backend``."""
    return (
        _factory(options, backend._require_client),
        _connection(options),
        _config(options),
    )


# ------------------------------------------------------------- readers


class _Reader:
    """Parses the options for ``backend`` and the read schema: None
    ``meta_cols`` for the canonical schema, else the metadata column
    names."""

    backend: Any

    def __init__(self, options: dict[str, str], schema: StructType):
        self.factory, self.connection, self.cfg = _parse(options, self.backend)
        names = schema.fieldNames()
        self.meta_cols = (
            None if "metadata" in names else [n for n in names if n not in ("id", "vector")]
        )


class _SpecReader(_Reader, DataSourceReader):
    """Input partitions are the backend planner's spec dicts; each one
    runs the backend scan, which yields Arrow record batches."""

    def plan(self) -> list[dict[str, Any]]:
        raise NotImplementedError

    def scan(self, spec: dict[str, Any]) -> Iterator[Any]:
        raise NotImplementedError

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(json.dumps(s)) for s in self.plan()]

    def read(self, partition: InputPartition) -> Iterator[Any]:
        return self.scan(json.loads(partition.value))


_RANGE_FILTERS = {
    GreaterThan: "gt",
    GreaterThanOrEqual: "gte",
    LessThan: "lt",
    LessThanOrEqual: "lte",
}


def _filter_to_neutral(f: Filter, cols: set[str]) -> dict[str, Any] | None:
    """One Spark ``Filter`` → neutral predicate dict, or None when the
    filter isn't expressible in Qdrant's DSL. Declared columns are
    strings, so range filters compare lexicographically in Spark but
    numerically in Qdrant — never translated."""
    child = f.child if isinstance(f, Not) else f
    attr = getattr(child, "attribute", None)
    if attr is None or len(attr) != 1 or attr[0] not in cols:
        return None
    col = attr[0]
    if isinstance(f, Not):
        if isinstance(child, EqualTo) and col != "id":
            v = child.value
            return None if v is None else {"col": col, "op": "ne", "value": v}
        return None
    if isinstance(f, EqualTo):
        v = qdrant.coerce_id(f.value) if col == "id" else f.value
        return None if v is None else {"col": col, "op": "eq", "value": v}
    if isinstance(f, In):
        vals = [v for v in f.value if v is not None]
        if not vals:
            return None
        if col == "id":
            vals = [qdrant.coerce_id(v) for v in vals]
        return {"col": col, "op": "in", "value": vals}
    return None


class QdrantScanReader(_SpecReader):
    backend = qdrant

    def __init__(self, options: dict[str, str], schema: StructType):
        super().__init__(options, schema)
        self.pushed: list[dict[str, Any]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        # map-typed metadata never surfaces as Filters
        pushable = {"id"} | set(self.meta_cols or ())
        for f in filters:
            p = _filter_to_neutral(f, pushable)
            if p is None or split_for_qdrant([p])[1]:
                yield f  # unsupported — Spark evaluates post-scan
                continue
            self.pushed.append(p)
            if p["op"] == "ne":
                # partial push: server-side must_not prunes the wire,
                # but Qdrant keeps missing-key points where Spark's
                # three-valued logic drops NULL — Spark must re-check.
                yield f

    def _query(self) -> dict[str, Any]:
        flt = merge_qdrant_filters(self.cfg.get("filter"), to_qdrant_filter(self.pushed))
        return dict(self.cfg, filter=flt)

    def plan(self) -> list[dict[str, Any]]:
        return qdrant.plan_partitions(self.factory, self.connection, self._query())

    def scan(self, spec: dict[str, Any]) -> Iterator[Any]:
        return qdrant.scan(self.factory, self.connection, self._query(), spec, self.meta_cols)


class QdrantStreamScanReader(_Reader, SimpleDataSourceStreamReader):
    """``readStream.format("qdrant")`` — incremental extraction: each
    microbatch scrolls forward from the checkpointed cursor, so a
    collection drains progressively and new points appended after
    the cursor surface in later batches. The offset is
    ``{"cursor": <scroll cursor>, "skip": <rows already emitted from
    that cursor>}`` — cursors are opaque server tokens, so end-of-
    collection keeps the LAST cursor and counts rows consumed past it
    (a re-scroll skips them); that makes restarts exact without
    assuming cursor arithmetic. SimpleDataSourceStreamReader reads on
    the driver — right for modest incremental rates; bulk backfills
    belong to the partition-planned batch scan. Standard cursor-stream
    caveat: points inserted BEFORE the current cursor position are
    missed until a restart from scratch (at-least-once per id overall,
    and the idempotent sinks absorb re-reads)."""

    backend = qdrant

    def initialOffset(self) -> dict:
        return {"cursor": None, "skip": 0}

    def _walk(self, start: dict, end: dict | None = None) -> tuple[list[tuple], dict]:
        """Page from ``start`` to the end of the collection, or to
        ``end``'s (cursor, skip) position for a deterministic replay;
        returns the rows and the offset reached — the LAST page's start
        cursor with an absolute skip count, so the next trigger (or a
        restart) resumes mid-page without re-emitting."""
        client = self.factory(self.connection)
        try:
            rows: list = []
            cursor, skip = start["cursor"], start.get("skip", 0)
            while True:
                points, nxt = client.scroll(
                    collection_name=self.cfg.get("collection_name", "default_collection"),
                    limit=self.cfg.get("batch_size", 1_000),
                    offset=cursor,
                    with_payload=True,
                    with_vectors=True,
                    scroll_filter=self.cfg.get("filter"),
                )
                page = [qdrant.point_row(p) for p in points]
                if end is not None and cursor == end.get("cursor"):
                    rows += page[skip : end.get("skip", 0)]
                    return rows, end
                rows += page[skip:]
                if nxt is None:
                    return rows, {"cursor": cursor, "skip": len(page)}
                cursor, skip = nxt, 0
        finally:
            close_client(client)

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        # drain everything available (the documented contract); a
        # concrete list — the engine pickles prefetched batches
        rows, end = self._walk(start)
        return list(project(rows, self.meta_cols)), end

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        return list(project(self._walk(start, end)[0], self.meta_cols))


def _milvus_filter_to_neutral(
    f: Filter,
) -> tuple[dict[str, Any], str] | None:
    """One Spark ``Filter`` → (neutral predicate, op-kind) where
    op-kind ∈ {eq, ne, in, range}; None when untranslatable."""
    child = f.child if isinstance(f, Not) else f
    attr = getattr(child, "attribute", None)
    if attr is None or len(attr) != 1:
        return None
    col = attr[0]
    if isinstance(f, Not):
        if isinstance(child, EqualTo) and child.value is not None:
            return {"col": col, "op": "ne", "value": child.value}, "ne"
        return None
    if isinstance(f, EqualTo):
        return (
            None
            if f.value is None
            else ({"col": col, "op": "eq", "value": f.value}, "eq")
        )
    if isinstance(f, In):
        vals = [v for v in f.value if v is not None]
        if not vals:
            return None
        return {"col": col, "op": "in", "value": vals}, "in"
    op = _RANGE_FILTERS.get(type(f))
    if op is not None:
        return (
            None
            if f.value is None
            else ({"col": col, "op": op, "value": f.value}, "range")
        )
    return None


class MilvusScanReader(_SpecReader):
    """``format("milvus")`` scan: schema-driven (driver-side
    introspection picks PK / vector / scalars, the reference's
    ``adapters/milvus.py:70-95`` logic), PK-residue partition planning,
    and expr pushdown with a push-and-recheck policy:

    - VARCHAR scalar ``eq``/``in`` and exact-digit integer-PK
      ``eq``/``in`` are **fully consumed** — server and Spark agree.
    - VARCHAR ``ne`` is **pushed and re-checked**: the server prunes
      exactly the rows whose string equals the literal (the same rows
      Spark's returned filter drops — superset-safe), and the recheck
      keeps Spark's three-valued logic authoritative for null keys.
    - everything else (ranges, numeric-typed scalars) stays
      **Spark-only** — yielded back WITHOUT a server-side push. A
      pushed filter must never prune a row the returned filter would
      keep, and a typed server comparison cannot guarantee that
      against Spark's string semantics on the declared schema: with
      ``col('meta_b') >= '40'`` a stored INT64 value 5 is pruned
      server-side (5 < 40) even though Spark's lexicographic
      comparison (``'5' >= '40'``) keeps it. Only predicates whose
      server semantics provably equal-or-superset the string
      semantics may prune the wire.
    """

    backend = milvus

    def __init__(self, options: dict[str, str], schema: StructType):
        super().__init__(options, schema)
        self.info = milvus.describe(self.factory, self.connection, self.cfg)
        self.types = milvus.field_types(self.info)
        self.pk_is_int = self.types.get(milvus.plan_fields(self.info)[0]) in milvus.INT_TYPES
        self.pushed: list[dict[str, Any]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        pushable = {"id"} | set(self.meta_cols or ())
        for f in filters:
            parsed = _milvus_filter_to_neutral(f)
            if parsed is None or parsed[0]["col"] not in pushable:
                yield f
                continue
            p, kind = parsed
            if p["col"] == "id":
                ok = kind in ("eq", "in") and self._push_id(p)
                if not ok:
                    yield f
                continue
            ftype = self.types.get(p["col"], "VARCHAR")
            if not (ftype == "VARCHAR" and kind in ("eq", "in", "ne")):
                # typed server comparison vs string comparison on the
                # declared schema: the server could prune rows Spark's
                # semantics would keep (INT64 5 < 40 but '5' >= '40')
                # — not superset-safe, so never reaches the wire
                yield f
                continue
            vals = p["value"] if kind == "in" else [p["value"]]
            coerced = [milvus.coerce_to_field_type(v, ftype) for v in vals]
            if any(c is None for c in coerced):
                yield f  # value doesn't fit the field type — Spark-only
                continue
            p = dict(p, value=coerced if kind == "in" else coerced[0])
            self.pushed.append(p)
            if kind == "ne":
                # server prunes exactly value == literal (string
                # equality, same as Spark's) — superset-safe; recheck
                # so null-key rows follow Spark's three-valued logic
                yield f

    def _push_id(self, p: dict[str, Any]) -> bool:
        """Consume an id eq/in only when the canonical string id
        round-trips exactly onto the PK type (str(int(v)) == v for an
        integer PK) — otherwise the server comparison could diverge."""
        vals = p["value"] if p["op"] == "in" else [p["value"]]
        if self.pk_is_int:
            if not all(
                isinstance(v, str) and v.lstrip("-").isdigit() and str(int(v)) == v
                for v in vals
            ):
                return False
            coerced = [int(v) for v in vals]
        else:
            coerced = [str(v) for v in vals]
        self.pushed.append(
            dict(p, value=coerced if p["op"] == "in" else coerced[0])
        )
        return True

    def plan(self) -> list[dict[str, Any]]:
        return milvus.plan_partitions(self.cfg, self.info)

    def scan(self, spec: dict[str, Any]) -> Iterator[Any]:
        query = dict(self.cfg, predicates=self.pushed)
        return milvus.scan(self.factory, self.connection, query, self.info, spec, self.meta_cols)


class MilvusStreamScanReader(_Reader, SimpleDataSourceStreamReader):
    """``readStream.format("milvus")`` — incremental extraction by
    integer-PK cursor: each microbatch queries ``pk > last_pk``, emits
    in PK order, and checkpoints the max PK seen. Exact restarts and
    deterministic replays (``readBetweenOffsets`` re-queries the
    half-open interval ``(start, end]``) follow from the cursor being
    a *value*, not a server token.

    Assumes an append-only collection with monotonically increasing
    PKs (Milvus auto-id semantics) — the standard high-watermark CDC
    contract; rows inserted with a PK below the watermark are missed
    until a fresh start, and the idempotent sinks absorb re-reads.
    Requires an integer PK (``pk > x`` on VARCHAR would be
    lexicographic and auto-id never is) — raises otherwise. Driver-
    side reads (SimpleDataSourceStreamReader): right for incremental
    rates; bulk backfills belong to the PK-residue-partitioned batch
    scan."""

    backend = milvus

    def __init__(self, options: dict[str, str], schema: StructType):
        super().__init__(options, schema)
        info = milvus.describe(self.factory, self.connection, self.cfg)
        self.pk, self.vec_field, self.scalars = milvus.plan_fields(info)
        pk_type = milvus.field_types(info).get(self.pk)
        if pk_type not in milvus.INT_TYPES:
            raise ValueError(
                "milvus stream source needs an integer PK for the "
                f"high-watermark cursor; {self.pk!r} is {pk_type}"
            )

    def initialOffset(self) -> dict:
        return {"last_pk": None}

    def _expr(self, lo, hi) -> str:
        base = self.cfg.get("filter_expr")
        parts = [f"({base})"] if base else []
        if lo is not None:
            parts.append(f"{self.pk} > {int(lo)}")
        if hi is not None:
            parts.append(f"{self.pk} <= {int(hi)}")
        return " and ".join(parts)

    def _query(self, lo, hi=None) -> list[dict]:
        """Fetch ALL rows in the half-open pk interval ``(lo, hi]`` —
        paged, never one unbounded ``query()``. Real Milvus caps
        ``query()`` results (~16384 rows); an unpaged call on a large
        backlog would be silently truncated and ``read()`` would then
        advance ``last_pk`` past rows it never emitted — a permanent
        skip. Two paging strategies, picked by client capability:

        - ``query_iterator`` (preferred, used when the client exposes
          it): the pymilvus API whose contract IS complete traversal
          in server-sized batches.
        - pk-cursor loop fallback: ``pk > cursor`` + ``limit=page``,
          re-sorted client-side, cursor advancing past each FULL
          page's max; a short page terminates. A full page is only
          safe to advance past if it is the COMPLETE content of
          ``(cursor, page_max]`` — a server that returned an
          arbitrary (non-lowest-pk-first) subset would otherwise
          leave rows below ``page_max`` permanently skipped. Each
          full page is therefore verified with a pk-only count probe
          of that interval (``limit=page+1``; more than ``page`` hits
          means the page missed rows) and the loop FAILS FAST with a
          pointer to ``query_iterator`` instead of silently losing
          data. Costs one cheap extra call per full page, on the
          fallback path only.
        """
        collection = self.cfg["collection_name"]
        page = self.cfg.get("page_size", 10_000)
        output_fields = (
            [self.pk] + ([self.vec_field] if self.vec_field else []) + self.scalars
        )
        client = self.factory(self.connection)
        out: list[dict] = []
        try:
            if hasattr(client, "query_iterator"):
                out = list(
                    milvus.query_all(client, collection, self._expr(lo, hi), output_fields, page)
                )
            else:
                cursor = lo
                while True:
                    recs = sorted(
                        client.query(
                            collection_name=collection,
                            filter=self._expr(cursor, hi),
                            output_fields=output_fields,
                            limit=page,
                        ),
                        key=lambda r: r[self.pk],
                    )
                    out.extend(recs)
                    if len(recs) < page:
                        break
                    page_max = int(recs[-1][self.pk])
                    probe = client.query(
                        collection_name=collection,
                        filter=self._expr(cursor, page_max),
                        output_fields=[self.pk],
                        limit=page + 1,
                    )
                    if len(probe) > page:
                        raise RuntimeError(
                            "milvus pk-cursor paging: server returned a "
                            f"non-contiguous page ({len(probe)} rows exist "
                            f"in ({cursor}, {page_max}] but the page held "
                            f"{page}); advancing would silently skip rows. "
                            "Use a client exposing query_iterator for "
                            "complete traversal."
                        )
                    cursor = page_max
        finally:
            close_client(client)
        return sorted(out, key=lambda r: r[self.pk])

    def _rows(self, recs: list[dict]) -> list[tuple]:
        rows = (milvus.point_row(r, self.pk, self.vec_field, self.scalars) for r in recs)
        return list(project(rows, self.meta_cols))

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        recs = self._query(start.get("last_pk"))
        if not recs:
            return [], dict(start)
        return self._rows(recs), {"last_pk": int(recs[-1][self.pk])}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        hi = end.get("last_pk")
        if hi is None:
            return []
        return self._rows(self._query(start.get("last_pk"), hi))


class PineconeScanReader(_SpecReader):
    """``format("pinecone")`` scan: one input partition per configured
    id prefix. The fetch-by-id path has no server-side filter, so this
    reader deliberately does NOT implement ``pushFilters`` — every
    predicate correctly stays with Spark post-scan."""

    backend = pinecone

    def __init__(self, options: dict[str, str], schema: StructType):
        super().__init__(options, schema)
        pinecone.index_name(self.cfg, "source")

    def plan(self) -> list[dict[str, Any]]:
        return pinecone.plan_partitions(self.cfg)

    def scan(self, spec: dict[str, Any]) -> Iterator[Any]:
        return pinecone.scan(self.factory, self.connection, self.cfg, spec, self.meta_cols)


class PineconeStreamScanReader(_Reader, SimpleDataSourceStreamReader):
    """``readStream.format("pinecone")`` — incremental extraction by
    lexicographic id watermark: Pinecone ids are strings and
    ``index.list()`` yields them in sorted order, so the checkpointed
    offset is simply the largest id emitted; each microbatch lists,
    keeps ids strictly above the watermark, fetches, and emits in id
    order. ``readBetweenOffsets`` re-fetches the half-open interval
    ``(start, end]`` — deterministic replays without server cursor
    tokens (which expire; an id *value* does not).

    High-watermark contract: append-only workloads whose new ids sort
    AFTER the watermark (timestamp- or KSUID-style ids). Rows inserted
    with ids below the watermark are missed until a fresh start, and
    the idempotent sinks absorb re-reads. Driver-side reads — right
    for incremental rates; bulk backfills belong to the prefix-
    partitioned batch scan."""

    backend = pinecone

    def __init__(self, options: dict[str, str], schema: StructType):
        super().__init__(options, schema)
        pinecone.index_name(self.cfg, "stream source")

    def initialOffset(self) -> dict:
        return {"last_id": None}

    def _fetch(self, lo: str | None, hi: str | None = None) -> list[tuple]:
        """Rows with ids in ``(lo, hi]``, in id order (replay
        determinism)."""
        namespace = self.cfg.get("namespace", "")
        batch = self.cfg.get("batch_size", 100)
        client = self.factory(self.connection)
        try:
            index = client.Index(self.cfg["index_name"])
            ids = sorted(
                str(vid)
                for page in index.list(
                    prefix=self.cfg.get("id_prefix"), namespace=namespace, limit=batch
                )
                for vid in page
                if (lo is None or str(vid) > lo) and (hi is None or str(vid) <= hi)
            )
            rows = sorted(
                row
                for i in range(0, len(ids), batch)
                for row in pinecone.fetch_rows(index, ids[i : i + batch], namespace)
            )
        finally:
            close_client(client)
        return list(project(rows, self.meta_cols))

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        rows = self._fetch(start.get("last_id"))
        if not rows:
            return [], dict(start)
        return rows, {"last_id": rows[-1][0]}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        hi = end.get("last_id")
        if hi is None:
            return []
        return self._fetch(start.get("last_id"), hi)


# ------------------------------------------------------------- writers


class _ArrowSink:
    """Runs a backend sink over one task's record batches."""

    def __init__(self, sink: Callable[[Iterator[Any]], None]):
        self.sink = sink

    def write(self, iterator: Iterator[Any]) -> WriterCommitMessage:
        self.sink(iterator)
        return WriterCommitMessage()


class _BatchWriter(_ArrowSink, DataSourceArrowWriter):
    pass


class _StreamWriter(_ArrowSink, DataSourceStreamArrowWriter):
    pass


# --------------------------------------------------------- data sources


class _VectorDataSource(DataSource):
    """Schema, readers and writers over one backend module; subclasses
    name it, its reader classes and its driver-side sink setup."""

    backend: Any
    scan_reader: type[_SpecReader]
    stream_reader: type[_Reader]

    def schema(self) -> StructType | str:
        meta_cols = self.options.get("metadata_columns")
        if meta_cols:
            cols = ", ".join(
                f"{c.strip()} string" for c in meta_cols.split(",") if c.strip()
            )
            return f"id string, vector array<float>, {cols}"
        return CANONICAL_SCHEMA

    def reader(self, schema: StructType) -> _SpecReader:
        return self.scan_reader(dict(self.options), schema)

    def simpleStreamReader(self, schema: StructType) -> _Reader:
        return self.stream_reader(dict(self.options), schema)

    def _sink(self, factory, conn, cfg, overwrite: bool) -> Callable:
        """Driver-side DDL; returns the task-side sink."""
        raise NotImplementedError

    def _writer_sink(self, schema: StructType, overwrite: bool) -> Callable:
        missing = {"id", "vector", "metadata"} - set(schema.fieldNames())
        if missing:
            raise ValueError(
                f"{self.name()} write needs canonical columns; missing {sorted(missing)}"
            )
        return self._sink(*_parse(self.options, self.backend), overwrite)

    def writer(self, schema: StructType, overwrite: bool) -> _BatchWriter:
        return _BatchWriter(self._writer_sink(schema, overwrite))

    def streamWriter(self, schema: StructType, overwrite: bool) -> _StreamWriter:
        return _StreamWriter(self._writer_sink(schema, overwrite))


class QdrantDataSource(_VectorDataSource):
    """``format("qdrant")`` — register with :func:`register_data_sources`.
    Creating a collection needs the ``vector_dimension`` option (no
    first-row sniff is possible before the plan runs)."""

    backend = qdrant
    scan_reader = QdrantScanReader
    stream_reader = QdrantStreamScanReader

    @classmethod
    def name(cls) -> str:
        return "qdrant"

    def _sink(self, factory, conn, cfg, overwrite):
        if overwrite:
            cfg["recreate_collection"] = True
        qdrant.ensure_collection(factory, conn, cfg)
        return partial(qdrant.sink, factory, conn, cfg)


class MilvusDataSource(_VectorDataSource):
    """``format("milvus")`` — register with :func:`register_data_sources`.
    Batch and stream writers share :func:`milvus.sink`, which upserts by
    pk, so task retries and microbatch replays converge to one row per
    pk (a client without ``upsert`` degrades to at-least-once
    ``insert``)."""

    backend = milvus
    scan_reader = MilvusScanReader
    stream_reader = MilvusStreamScanReader

    @classmethod
    def name(cls) -> str:
        return "milvus"

    def _sink(self, factory, conn, cfg, overwrite):
        info = milvus.describe(factory, conn, cfg, sink=True)
        return partial(milvus.sink, factory, conn, cfg, info)


class PineconeDataSource(_VectorDataSource):
    """``format("pinecone")`` — register with :func:`register_data_sources`."""

    backend = pinecone
    scan_reader = PineconeScanReader
    stream_reader = PineconeStreamScanReader

    @classmethod
    def name(cls) -> str:
        return "pinecone"

    def _sink(self, factory, conn, cfg, overwrite):
        pinecone.index_name(cfg, "sink")
        pinecone.ensure_index(factory, conn, cfg)
        return partial(pinecone.sink, factory, conn, cfg)


def register_data_sources(spark) -> None:
    """Idempotently register every Python DataSource this package
    provides (call once per session)."""
    # pushFilters hard-errors when this flag (default false in 4.1)
    # is off — flip it here so registration is sufficient setup
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(QdrantDataSource)
    spark.dataSource.register(MilvusDataSource)
    spark.dataSource.register(PineconeDataSource)
