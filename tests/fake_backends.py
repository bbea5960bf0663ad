"""Shared file-backed fake backend clients.

Executor python workers are separate processes, so these fakes persist
state to a shared ``store_dir`` — the only honest way to observe a
distributed write, from a ``Migrator`` adapter or a DataSource. They
live in their own importable module (tests/ is on the executors'
PYTHONPATH, see conftest.py) so both pickled closures AND the Python
DataSource API's import-string ``client_factory`` option can reach
them from workers.

The scroll/upsert surface mirrors the reference's mocked qdrant client
(``/root/reference/tests/test_qdrant_adapter.py``), with server-side
evaluation of the must/must_not DSL subset the predicate translator
emits.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace


class FakeQdrantClient:
    """File-backed fake qdrant: scroll pages a fixed point set; upsert
    appends JSONL under store_dir."""

    POINTS = [
        SimpleNamespace(id=i, vector=[float(i), 0.0], payload={"name": f"p{i}"})
        for i in range(25)
    ]

    def __init__(self, connection):
        self.store = connection.get("store_dir", "/tmp/fake_qdrant")
        self.record = connection.get("record_scrolls")

    def _cfg(self, name):
        return f"{self.store}/{name}.config.json"

    @staticmethod
    def _filtered(pts, flt):
        """Evaluate the must/must_not DSL subset the predicate
        translator emits — the live server's semantics."""
        if not flt:
            return pts
        for cond in flt.get("must", []):
            if "has_id" in cond:
                ids = set(cond["has_id"])
                pts = [p for p in pts if p.id in ids]
            elif "value" in cond.get("match", {}):
                k, v = cond["key"], cond["match"]["value"]
                pts = [p for p in pts if p.payload.get(k) == v]
            elif "any" in cond.get("match", {}):
                k, vs = cond["key"], cond["match"]["any"]
                pts = [p for p in pts if p.payload.get(k) in vs]
        for cond in flt.get("must_not", []):
            if "value" in cond.get("match", {}):
                k, v = cond["key"], cond["match"]["value"]
                pts = [p for p in pts if p.payload.get(k) != v]
        return pts

    def scroll(self, collection_name, limit, offset=None, with_payload=True,
               with_vectors=True, scroll_filter=None, shard_key_selector=None):
        if self.record:
            with open(f"{self.store}/scrolls.{os.getpid()}.jsonl", "a") as f:
                f.write(json.dumps({"scroll_filter": scroll_filter,
                                    "with_vectors": with_vectors}) + "\n")
        pts = self._filtered(self.POINTS, scroll_filter)
        if shard_key_selector is not None:
            # custom-sharded collection: shard key = id % 2
            pts = [p for p in pts if p.id % 2 == shard_key_selector]
        start = offset or 0
        page = pts[start : start + limit]
        nxt = start + len(page)
        return page, (nxt if nxt < len(pts) else None)

    def count(self, collection_name, count_filter=None, exact=True):
        return SimpleNamespace(
            count=len(self._filtered(self.POINTS, count_filter))
        )

    def collection_exists(self, name):
        return os.path.exists(self._cfg(name))

    def delete_collection(self, name):
        os.remove(self._cfg(name))
        for f in os.listdir(self.store):
            if f.startswith(f"{name}.points"):
                os.remove(f"{self.store}/{f}")

    def create_collection(self, collection_name, vectors_config):
        with open(self._cfg(collection_name), "w") as f:
            json.dump(vectors_config, f)

    def upsert(self, collection_name, points, shard_key_selector=None):
        path = f"{self.store}/{collection_name}.points.{os.getpid()}.jsonl"
        with open(path, "a") as f:
            for p in points:
                rec = dict(p)
                if shard_key_selector is not None:
                    rec["shard_key"] = shard_key_selector
                f.write(json.dumps(rec) + "\n")

    def get_collection(self, name):
        with open(self._cfg(name)) as f:
            return json.load(f)


def qdrant_factory(connection):
    return FakeQdrantClient(connection)


class FakeQdrantSparseClient(FakeQdrantClient):
    """Variant where one point lacks the ``name`` payload key — for
    asserting Spark-vs-Qdrant NULL semantics on `!=` pushdown (Qdrant
    must_not keeps missing-key points; Spark three-valued logic drops
    them)."""

    POINTS = [
        SimpleNamespace(id=0, vector=[0.0, 0.0], payload={}),  # no name
    ] + [
        SimpleNamespace(id=i, vector=[float(i), 0.0], payload={"name": f"p{i}"})
        for i in range(1, 6)
    ]


def qdrant_sparse_factory(connection):
    return FakeQdrantSparseClient(connection)


def read_upserted_points(store_dir, name, key="id"):
    """All points upserted into ``name`` across every worker process,
    keyed by ``key`` (latest write wins — upsert semantics): ``id`` for
    qdrant points, ``pk`` for milvus rows."""
    out = {}
    for f in sorted(os.listdir(store_dir)):
        if f.startswith(f"{name}.points"):
            for line in open(f"{store_dir}/{f}"):
                p = json.loads(line)
                out[p[key]] = p
    return out


_MILVUS_DS_SCHEMA = {
    "fields": [
        {"name": "pk", "is_primary": True, "type": "INT64"},
        {"name": "vec", "type": "FLOAT_VECTOR"},
        {"name": "meta_a", "type": "VARCHAR"},
        {"name": "meta_b", "type": "INT64"},
    ]
}


class FakeMilvusServer:
    """Milvus fake with a real conjunct evaluator (the regex fake in
    test_sources.py only understands a fixed expr set). Evaluates the
    exprs the predicate translator and the shard planner emit:
    ``field op literal``, ``field in [..]``, and the non-negative
    modulo shard conjunct — None field values fail every comparison
    (server semantics: a null never matches)."""

    DATA = [
        {
            "pk": i,
            "vec": [float(i), 0.5],
            "meta_a": f"a{i % 3}",
            "meta_b": i * 10 if i % 2 == 0 else None,
        }
        for i in range(12)
    ]

    def __init__(self, connection):
        self.store = connection.get("store_dir", "/tmp/fake_milvus_ds")
        self.record = connection.get("record_queries")
        # optional silent server-side result cap (real Milvus: ~16384)
        self.query_cap = connection.get("query_cap")

    def has_collection(self, name):
        return name == "col"

    def describe_collection(self, name):
        return _MILVUS_DS_SCHEMA

    @staticmethod
    def _literal(tok):
        tok = tok.strip()
        if tok.startswith('"') and tok.endswith('"'):
            return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        return float(tok) if "." in tok else int(tok)

    @classmethod
    def _eval_conjunct(cls, row, part):
        import math
        import re as _re

        part = part.strip()
        while part.startswith("(") and part.endswith(")"):
            part = part[1:-1].strip()
        m = _re.match(r"^\(\(pk % (\d+)\) \+ (\d+)\) % (\d+) == (\d+)$",
                      part.replace("(", "(").strip()) or _re.match(
            r"^\(\(\(pk % (\d+)\) \+ (\d+)\) % (\d+)\) == (\d+)$", part)
        if m:
            n1, add, n2, want = (int(g) for g in m.groups())
            v = row["pk"]
            return int(math.fmod(int(math.fmod(v, n1)) + add, n2)) == want
        m = _re.match(r"^(\w+) in \[(.*)\]$", part)
        if m:
            field, body = m.group(1), m.group(2)
            vals = [cls._literal(t) for t in body.split(",")] if body.strip() else []
            return row.get(field) is not None and row[field] in vals
        m = _re.match(r"^(\w+) (==|!=|>=|<=|>|<) (.+)$", part)
        if m:
            field, op, lit = m.group(1), m.group(2), cls._literal(m.group(3))
            v = row.get(field)
            if v is None:
                return False
            return {
                "==": v == lit, "!=": v != lit, ">=": v >= lit,
                "<=": v <= lit, ">": v > lit, "<": v < lit,
            }[op]
        raise ValueError(f"fake milvus cannot evaluate conjunct: {part!r}")

    def query(self, collection_name, filter="", output_fields=None, limit=None):
        import os as _os
        import json as _json
        import re as _re

        if self.record:
            with open(f"{self.store}/queries.{_os.getpid()}.jsonl", "a") as f:
                f.write(_json.dumps({"filter": filter,
                                     "output_fields": output_fields}) + "\n")
        data = self.DATA
        if filter:
            # split on top-level " and " — generated conjuncts never
            # nest an "and" inside
            for part in _re.split(r"\s+and\s+", filter):
                data = [d for d in data if self._eval_conjunct(d, part)]
        # model the real server's result cap: pk-ordered pages,
        # SILENTLY truncated at min(limit, server cap) — the behavior
        # that makes unpaged watermark reads skip rows
        cap = self.query_cap if limit is None else min(limit, self.query_cap or limit)
        if cap is not None:
            data = sorted(data, key=lambda d: d["pk"])[:cap]
        return [{k: d.get(k) for k in (output_fields or d)} for d in data]

    def insert(self, collection_name, data):
        import os as _os
        import json as _json

        path = f"{self.store}/{collection_name}.rows.{_os.getpid()}.jsonl"
        with open(path, "a") as f:
            for r in data:
                f.write(_json.dumps(r) + "\n")

    def upsert(self, collection_name, data):
        """Idempotent-by-pk store (MilvusClient.upsert semantics): each
        process appends to its own log, and ``read_upserted_points(...,
        key="pk")`` keeps one row per pk, so a retried or replayed batch
        overwrites rather than duplicates."""
        path = f"{self.store}/{collection_name}.points.{os.getpid()}.jsonl"
        with open(path, "a") as f:
            for r in data:
                f.write(json.dumps(r) + "\n")


def milvus_ds_factory(connection):
    return FakeMilvusServer(connection)


class FakeQdrantCatalogClient(FakeQdrantClient):
    """Points with a ``category`` payload — for examples/tests that
    push a category predicate server-side."""

    POINTS = [
        SimpleNamespace(
            id=i,
            vector=[float(i), 1.0],
            payload={
                "category": "product" if i % 2 == 0 else "review",
                "name": f"item{i}",
            },
        )
        for i in range(10)
    ]


def qdrant_catalog_factory(connection):
    return FakeQdrantCatalogClient(connection)


class FakePineconeIndex:
    """In-memory index: list() yields id pages, fetch() returns vector
    records, upsert() appends to a file-backed store (executor-side
    visibility, like the other fakes)."""

    VECTORS = {
        f"v{i}": {"values": [float(i), 1.0], "metadata": {"tag": f"t{i % 3}"}}
        for i in range(12)
    }

    def __init__(self, store):
        self.store = store

    def list(self, prefix=None, namespace=None, limit=100):
        ids = sorted(k for k in self.VECTORS if k.startswith(prefix or ""))
        for i in range(0, len(ids), limit):
            yield ids[i : i + limit]

    def fetch(self, ids, namespace=None):
        return {"vectors": {i: dict(self.VECTORS[i]) for i in ids}}

    def upsert(self, vectors, namespace=None):
        path = f"{self.store}/idx.points.{os.getpid()}.jsonl"
        with open(path, "a") as f:
            for v in vectors:
                f.write(json.dumps(v) + "\n")

    def describe_index_stats(self):
        return {"total_vector_count": len(self.VECTORS)}


class FakePineconeClient:
    def __init__(self, connection):
        self.store = connection.get("store_dir", "/tmp/fake_pinecone")
        self.created = f"{self.store}/indexes.json"

    def Index(self, name):
        return FakePineconeIndex(self.store)

    def list_indexes(self):
        if os.path.exists(self.created):
            return json.load(open(self.created))
        return []

    def create_index(self, name, dimension, metric):
        existing = self.list_indexes()
        json.dump(existing + [name], open(self.created, "w"))


def pinecone_factory(connection):
    return FakePineconeClient(connection)


class FakeQdrantGrowingClient(FakeQdrantClient):
    """Points live in a JSONL file under store_dir, so tests can append
    between streaming triggers — the incremental-extraction scenario
    (readStream.format("qdrant"))."""

    def _points(self):
        path = f"{self.store}/src.collection.jsonl"
        pts = []
        if os.path.exists(path):
            for line in open(path):
                d = json.loads(line)
                pts.append(
                    SimpleNamespace(
                        id=d["id"], vector=d["vector"], payload=d.get("payload", {})
                    )
                )
        return pts

    @staticmethod
    def seed(store_dir, points):
        with open(f"{store_dir}/src.collection.jsonl", "a") as f:
            for p in points:
                f.write(json.dumps(p) + "\n")

    def scroll(self, collection_name, limit, offset=None, with_payload=True,
               with_vectors=True, scroll_filter=None, shard_key_selector=None):
        pts = self._filtered(self._points(), scroll_filter)
        start = offset or 0
        page = pts[start : start + limit]
        nxt = start + len(page)
        return page, (nxt if nxt < len(pts) else None)


def qdrant_growing_factory(connection):
    return FakeQdrantGrowingClient(connection)


class FakeMilvusGrowingServer(FakeMilvusServer):
    """Milvus fake whose rows live in a JSONL file under store_dir so
    tests can append between streaming triggers — the PK-watermark
    incremental-extraction scenario (readStream.format("milvus"))."""

    @property
    def DATA(self):  # noqa: N802 — shadows the class constant
        path = f"{self.store}/milvus.src.jsonl"
        rows = []
        if os.path.exists(path):
            for line in open(path):
                rows.append(json.loads(line))
        return rows

    @staticmethod
    def seed(store_dir, rows):
        with open(f"{store_dir}/milvus.src.jsonl", "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")


def milvus_growing_factory(connection):
    return FakeMilvusGrowingServer(connection)


class FakePineconeGrowingIndex(FakePineconeIndex):
    """Pinecone index whose vectors live in a JSONL file under
    store_dir so tests can append between streaming triggers — the
    lexicographic-id-watermark scenario (readStream.format("pinecone"))."""

    @property
    def VECTORS(self):  # noqa: N802 — shadows the class constant
        path = f"{self.store}/pinecone.src.jsonl"
        out = {}
        if os.path.exists(path):
            for line in open(path):
                d = json.loads(line)
                out[d["id"]] = {"values": d["values"],
                                "metadata": d.get("metadata", {})}
        return out

    @staticmethod
    def seed(store_dir, rows):
        with open(f"{store_dir}/pinecone.src.jsonl", "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")


class FakePineconeGrowingClient(FakePineconeClient):
    def Index(self, name):
        return FakePineconeGrowingIndex(self.store)


def pinecone_growing_factory(connection):
    return FakePineconeGrowingClient(connection)


class FakeMilvusDescendingServer(FakeMilvusGrowingServer):
    """Growing Milvus fake whose capped ``query()`` pages are
    HIGHEST-pk-first — the arbitrary-subset server the pk-cursor
    fallback cannot page safely (advancing past a page's max would
    permanently skip every lower-pk row the page omitted). The
    reader's contiguity guard must fail fast on it."""

    def query(self, collection_name, filter="", output_fields=None, limit=None):
        import re as _re

        data = self.DATA
        if filter:
            for part in _re.split(r"\s+and\s+", filter):
                data = [d for d in data if self._eval_conjunct(d, part)]
        cap = self.query_cap if limit is None else min(limit, self.query_cap or limit)
        if cap is not None:
            data = sorted(data, key=lambda d: -d["pk"])[:cap]
        return [{k: d.get(k) for k in (output_fields or d)} for d in data]


def milvus_descending_factory(connection):
    return FakeMilvusDescendingServer(connection)


class FakeMilvusIteratorServer(FakeMilvusGrowingServer):
    """Growing Milvus fake that ALSO exposes ``query_iterator`` (the
    pymilvus complete-traversal paging API) — the preferred stream
    paging path must pick it over plain capped ``query()``."""

    def query_iterator(self, collection_name, filter="", output_fields=None,
                       batch_size=1000):
        cap, self.query_cap = self.query_cap, None
        try:  # the iterator's contract is complete traversal — no cap
            rows = self.query(collection_name=collection_name, filter=filter,
                              output_fields=output_fields)
        finally:
            self.query_cap = cap
        rows = sorted(rows, key=lambda r: r["pk"])

        class _It:
            def __init__(self, rows, n):
                self._rows, self._n, self._i = rows, n, 0
                self.closed = False

            def next(self):
                batch = self._rows[self._i:self._i + self._n]
                self._i += self._n
                return batch

            def close(self):
                self.closed = True

        return _It(rows, batch_size)


def milvus_iterator_factory(connection):
    return FakeMilvusIteratorServer(connection)


def _log_client(store_dir, event):
    with open(f"{store_dir}/clients.{os.getpid()}.log", "a") as f:
        f.write(event + "\n")


def client_events(store_dir):
    """(opened, closed) counts of the recording clients under
    ``store_dir``, across every process."""
    events = []
    for f in os.listdir(store_dir):
        if f.startswith("clients."):
            events += open(os.path.join(store_dir, f)).read().split()
    return events.count("open"), events.count("close")


class RecordingClient:
    """Wraps a fake client and logs its opening and its ``close`` under
    ``store_dir``, so tests can check that every client is closed."""

    def __init__(self, inner, store_dir):
        self._inner, self._store = inner, store_dir
        _log_client(store_dir, "open")

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def close(self):
        _log_client(self._store, "close")


def recording_qdrant_factory(connection):
    return RecordingClient(FakeQdrantClient(connection), connection["store_dir"])


def recording_milvus_factory(connection):
    return RecordingClient(FakeMilvusServer(connection), connection["store_dir"])


def recording_pinecone_factory(connection):
    return RecordingClient(FakePineconeClient(connection), connection["store_dir"])


class FailingQdrantClient(FakeQdrantClient):
    """Every upsert fails — a write that dies mid-task."""

    def upsert(self, collection_name, points, shard_key_selector=None):
        raise RuntimeError("upsert failed")


def recording_failing_qdrant_factory(connection):
    return RecordingClient(FailingQdrantClient(connection), connection["store_dir"])
