"""Connector tests with fake clients (reference layer:
tests/test_qdrant_adapter.py, tests/test_milvus_adapter.py,
tests/test_pgvector_adapter.py — mocked clients, no live DBs)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA
from vectordb_migrator_spark.sources.milvus import (
    MilvusAdapter,
    coerce_to_field_type,
    plan_fields,
)
from vectordb_migrator_spark.sources.pgvector import (
    PgVectorAdapter,
    build_select,
    jdbc_url,
)
from vectordb_migrator_spark.sources.qdrant import QdrantAdapter

# ---------------------------------------------------------------- fakes
# Shared file-backed fakes live in tests/fake_backends.py (importable by
# executor workers AND by the Python DataSource API's import-string
# client_factory option); write observation reads their store_dir.
import json
import os
import re
import time

from fake_backends import (  # noqa: E402
    FakeQdrantClient,
    qdrant_factory,
    read_upserted_points as _read_points,
)
from vectordb_migrator_spark.plans.pipeline import Migrator  # noqa: E402
from vectordb_migrator_spark.sources.base import SparkAdapter  # noqa: E402


class _FrameSource(SparkAdapter):
    """A Migrator source that reads a DataFrame built in the test."""

    def __init__(self, df):
        self.df = df

    def read(self, spark, connection, query):
        return self.df

    def write(self, df, connection, load):  # pragma: no cover
        raise NotImplementedError


def _migrate_stats(df, target, adapter, connection, load):
    """Write ``df`` through ``adapter`` with a Migrator; its load stats."""
    m = Migrator(
        df.sparkSession,
        {"source": {"type": "parquet"},
         "target": {"type": target, "connection": connection, "load": load}},
        adapters={"parquet": _FrameSource(df), target: adapter},
    )
    assert m.migrate() is True
    return m.stats


def test_qdrant_read_loops_cursor(spark):
    """The reference truncates at one scroll call (adapters/
    qdrant.py:99-106); our reader must page to exhaustion."""
    a = QdrantAdapter(client_factory=qdrant_factory)
    df = a.read(spark, {}, {"collection_name": "c", "batch_size": 10})
    rows = df.collect()
    assert len(rows) == 25  # 3 pages of 10/10/5 — no truncation
    assert df.schema == CANONICAL_SCHEMA


def test_qdrant_sharded_read_no_duplicates(spark):
    """shard_keys fan the scan across custom shards via
    shard_key_selector — disjoint, complete, no duplicates."""
    a = QdrantAdapter(client_factory=qdrant_factory)
    df = a.read(
        spark, {}, {"collection_name": "c", "batch_size": 10, "shard_keys": [0, 1]}
    )
    ids = sorted(int(r["id"]) for r in df.collect())
    assert ids == list(range(25))


def test_qdrant_segmented_read_parallel(spark):
    """num_partitions segments an UNSHARDED collection: the driver's
    id-only pre-pass yields disjoint cursor segments whose union is the
    full collection, and the scan runs in >=2 Spark partitions."""
    from vectordb_migrator_spark.sources.qdrant import _plan_segments

    segs = _plan_segments(
        FakeQdrantClient({}), "c", flt=None, segment_size=7
    )
    assert segs == [(None, 7), (7, 7), (14, 7), (21, 4)]

    a = QdrantAdapter(client_factory=qdrant_factory)
    df = a.read(
        spark, {}, {"collection_name": "c", "batch_size": 3, "num_partitions": 4}
    )
    assert df.rdd.getNumPartitions() >= 2
    ids = sorted(int(r["id"]) for r in df.collect())
    assert ids == list(range(25))  # disjoint + complete


def test_qdrant_shard_keys_tier_wins_over_segmentation(spark, tmp_path):
    """Tier preference: when shard_keys are given, the reader fans out
    by key and NEVER runs the serial id-only segmentation pre-pass —
    even when num_partitions is also set. The pre-pass is a serial
    driver loop (see _plan_segments), so the key tier must win."""

    class CountingClient(FakeQdrantClient):
        calls = []

        def scroll(self, collection_name=None, **kw):
            CountingClient.calls.append(kw.get("shard_key_selector"))
            return super().scroll(collection_name=collection_name, **kw)

    CountingClient.calls = []
    a = QdrantAdapter(client_factory=lambda conn: CountingClient(conn))
    df = a.read(
        spark,
        {},
        {
            "collection_name": "c",
            "batch_size": 10,
            "shard_keys": [0, 1],
            "num_partitions": 4,  # ignored: key tier wins
        },
    )
    assert df.rdd.getNumPartitions() == 2  # one per shard key
    ids = sorted(int(r["id"]) for r in df.collect())
    assert ids == list(range(25))
    # the driver ran NO scroll at all: executor scans record into their
    # own worker processes, so any entry here would be the serial
    # planner pre-pass — which the key tier must skip
    assert CountingClient.calls == []


def test_predicate_translation_units():
    """Neutral predicates compile to each backend's native DSL —
    SURVEY §4 custom-Spark-work #1 (the reference only passes raw DSL
    through: adapters/qdrant.py:84,105)."""
    from vectordb_migrator_spark.sources.predicates import (
        merge_qdrant_filters,
        split_for_qdrant,
        to_milvus_expr,
        to_qdrant_filter,
    )

    preds = [
        {"col": "id", "op": "in", "value": [1, 2, 3]},
        {"col": "category", "op": "eq", "value": "news"},
        {"col": "price", "op": "gte", "value": 10.5},
        {"col": "name", "op": "ne", "value": "x"},
        {"col": "name", "op": "gt", "value": "abc"},  # lexicographic
        {"col": "id", "op": "lt", "value": 100},  # id range
    ]
    ok, resid = split_for_qdrant(preds)
    assert [p["op"] for p in resid] == ["gt", "lt"]  # untranslatable
    assert to_qdrant_filter(ok) == {
        "must": [
            {"has_id": [1, 2, 3]},
            {"key": "category", "match": {"value": "news"}},
            {"key": "price", "range": {"gte": 10.5}},
        ],
        "must_not": [{"key": "name", "match": {"value": "x"}}],
    }
    merged = merge_qdrant_filters(
        {"must": [{"key": "a", "match": {"value": 1}}]}, to_qdrant_filter(ok)
    )
    assert len(merged["must"]) == 4 and len(merged["must_not"]) == 1

    # Milvus covers the whole op set — nothing residual
    expr = to_milvus_expr(preds, pk="pk", pk_is_int=True)
    assert expr == (
        'pk in [1, 2, 3] and category == "news" and price >= 10.5 '
        'and name != "x" and name > "abc" and pk < 100'
    )


def test_qdrant_predicates_push_into_scroll(spark, tmp_path):
    """Translated predicates must reach the server as scroll_filter
    kwargs (reference kwarg-assertion style, tests/test_qdrant_adapter
    .py:106-113) AND filter the result server-side; the untranslatable
    residual applies post-scan."""
    a = QdrantAdapter(client_factory=qdrant_factory)
    conn = {"store_dir": str(tmp_path), "record_scrolls": True}
    df = a.read(
        spark,
        conn,
        {
            "collection_name": "c",
            "predicates": [
                {"col": "id", "op": "in", "value": [1, 2, 3, 10]},
                {"col": "name", "op": "ne", "value": "p2"},
                {"col": "name", "op": "gt", "value": "p0"},  # residual
            ],
        },
    )
    ids = sorted(int(r["id"]) for r in df.collect())
    assert ids == [1, 3, 10]
    recorded = []
    for f in os.listdir(tmp_path):
        if f.startswith("scrolls."):
            recorded += [json.loads(x) for x in open(tmp_path / f)]
    assert recorded and recorded[0]["scroll_filter"] == {
        "must": [{"has_id": [1, 2, 3, 10]}],
        "must_not": [{"key": "name", "match": {"value": "p2"}}],
    }


def test_milvus_predicates_compile_to_expr(spark):
    """id predicates map to the discovered PK (typed), metadata eq to a
    quoted comparison — all evaluated server-side by the fake."""
    a = MilvusAdapter(client_factory=milvus_factory)
    out = a.read(
        spark,
        {},
        {
            "collection_name": "col",
            "predicates": [
                {"col": "id", "op": "in", "value": ["1", "2", "5"]},
                {"col": "meta_a", "op": "eq", "value": "a5"},
            ],
        },
    ).collect()
    assert [r["id"] for r in out] == ["5"]


def test_apply_residual_on_canonical(spark):
    from vectordb_migrator_spark.sources.predicates import apply_residual

    df = spark.createDataFrame(
        [("1", [0.1], {"price": "5"}), ("2", [0.2], {"price": "15"}),
         ("3", [0.3], {})],
        CANONICAL_SCHEMA,
    )
    out = apply_residual(df, [{"col": "price", "op": "gte", "value": 10}])
    assert [r["id"] for r in out.collect()] == ["2"]  # missing key fails


def test_qdrant_read_limit_offset(spark):
    a = QdrantAdapter(client_factory=qdrant_factory)
    df = a.read(spark, {}, {"collection_name": "c", "limit": 5, "offset": 2})
    ids = [r["id"] for r in df.collect()]
    assert len(ids) == 5 and ids == sorted(ids)


def test_qdrant_write_upsert_and_ddl(spark, tmp_path):
    conn = {"store_dir": str(tmp_path)}
    a = QdrantAdapter(client_factory=qdrant_factory)
    df = spark.createDataFrame(
        [("1", [0.1, 0.2], {"k": "v"}), ("x9", [0.3, 0.4], {})],
        CANONICAL_SCHEMA,
    )
    a.write(df, conn, {"collection_name": "tgt", "distance": "cosine", "batch_size": 1})
    cfg = FakeQdrantClient(conn).get_collection("tgt")
    assert cfg["size"] == 2
    assert cfg["distance"] == "Cosine"  # name mapping
    points = _read_points(str(tmp_path), "tgt")
    # C2: digit-string id became int; non-digit stayed str
    assert set(points) == {1, "x9"}
    assert points[1]["payload"] == {"k": "v"}


def test_qdrant_pinecone_write_skip_null_id(spark, tmp_path):
    """C4 parity across sinks: Qdrant and Pinecone skip null-id rows
    like the Milvus sink does (a null id would alias every such row
    onto one bogus point — Pinecone would literally upsert id 'None').
    The skip is observable as total_rows - rows_with_id."""
    from vectordb_migrator_spark.sources.pinecone import PineconeAdapter

    df = spark.createDataFrame(
        [("1", [0.1], {"k": "v"}), (None, [0.2], {})],
        "id string, vector array<float>, metadata map<string,string>",
    )
    (tmp_path / "q").mkdir()
    qconn = {"store_dir": str(tmp_path / "q")}
    qstats = _migrate_stats(
        df, "qdrant", QdrantAdapter(client_factory=qdrant_factory), qconn,
        {"collection_name": "tgt", "vector_dimension": 1},
    )
    assert set(_read_points(str(tmp_path / "q"), "tgt")) == {1}
    assert qstats["total_rows"] == 2
    assert qstats["rows_with_id"] == 1

    pconn = {"store_dir": str(tmp_path / "p")}
    (tmp_path / "p").mkdir()
    pstats = _migrate_stats(
        df, "pinecone", PineconeAdapter(client_factory=pinecone_factory), pconn,
        {"index_name": "idx", "create_index": True, "dimension": 1},
    )
    ids = set()
    for f in os.listdir(tmp_path / "p"):
        if f.startswith("idx.points"):
            for line in open(tmp_path / "p" / f):
                ids.add(json.loads(line)["id"])
    assert ids == {"1"}  # no literal "None" point
    assert pstats["total_rows"] == 2
    assert pstats["rows_with_id"] == 1


def test_qdrant_recreate_collection(spark, tmp_path):
    conn = {"store_dir": str(tmp_path)}
    old = FakeQdrantClient(conn)
    old.create_collection("tgt", {"size": 99})
    old.upsert("tgt", [{"id": 9, "vector": [0.0], "payload": {}}])
    a = QdrantAdapter(client_factory=qdrant_factory)
    df = spark.createDataFrame([("1", [0.5], {})], CANONICAL_SCHEMA)
    a.write(df, conn, {"collection_name": "tgt", "recreate_collection": True})
    assert FakeQdrantClient(conn).get_collection("tgt")["size"] == 1
    assert 9 not in _read_points(str(tmp_path), "tgt")


_MILVUS_SCHEMA = {
    "fields": [
        {"name": "pk", "is_primary": True, "type": "INT64"},
        {"name": "vec", "type": "FLOAT_VECTOR"},
        {"name": "meta_a", "type": "VARCHAR"},
        {"name": "meta_b", "type": "INT64"},
    ]
}


class FakeMilvusClient:
    DATA = [
        {"pk": i, "vec": [float(i)], "meta_a": f"a{i}", "meta_b": None if i % 2 else i}
        for i in range(7)
    ]

    def __init__(self, connection):
        self.store = connection.get("store_dir", "/tmp/fake_milvus")

    def has_collection(self, name):
        return name == "col"

    def describe_collection(self, name):
        return _MILVUS_SCHEMA

    def query(self, collection_name, filter="", output_fields=None):
        import math

        def c_mod(a, n):  # Milvus evaluates % with C truncation semantics
            return int(math.fmod(a, n))

        data = self.DATA
        # understands the adapter's shard conjunct
        # "(((pk % N) + N) % N) == i" and the base predicate, in any
        # combination — evaluated with C % semantics like the server
        for part in re.split(r"\s+and\s+", filter) if filter else []:
            part = part.strip().strip("()")
            m = re.match(r"pk % (\d+)\) \+ (\d+)\) % (\d+)\) == (\d+)", part)
            m_in = re.match(r"pk in \[([\d, ]+)\]", part)
            m_eq = re.match(r'meta_a == "(\w+)"', part)
            if m:
                n1, add, n2, i = (int(g) for g in m.groups())
                data = [
                    d for d in data if c_mod(c_mod(d["pk"], n1) + add, n2) == i
                ]
            elif m_in:
                ids = {int(x) for x in m_in.group(1).split(",")}
                data = [d for d in data if d["pk"] in ids]
            elif m_eq:
                data = [d for d in data if d["meta_a"] == m_eq.group(1)]
            elif part == "meta_b > 2":
                data = [
                    d for d in data if d["meta_b"] is not None and d["meta_b"] > 2
                ]
        return [{k: d[k] for k in (output_fields or d)} for d in data]

    def insert(self, collection_name, data):
        path = f"{self.store}/{collection_name}.rows.{os.getpid()}.jsonl"
        with open(path, "a") as f:
            for r in data:
                f.write(json.dumps(r) + "\n")


def milvus_factory(connection):
    return FakeMilvusClient(connection)


def test_plan_fields():
    # reference adapters/milvus.py:70-95 introspection semantics
    pk, vec, scalars = plan_fields(_MILVUS_SCHEMA)
    assert (pk, vec, scalars) == ("pk", "vec", ["meta_a", "meta_b"])
    with pytest.raises(ValueError, match="primary key"):
        plan_fields({"fields": [{"name": "x", "type": "INT64"}]})


def test_milvus_read_null_meta_dropped(spark):
    a = MilvusAdapter(client_factory=milvus_factory)
    df = a.read(spark, {}, {"collection_name": "col"})
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 7
    # P3: None-valued meta_b keys omitted (odd pks)
    assert "meta_b" not in rows["1"]["metadata"]
    assert rows["2"]["metadata"]["meta_b"] == "2"


def test_milvus_filter_expr(spark):
    a = MilvusAdapter(client_factory=milvus_factory)
    df = a.read(spark, {}, {"collection_name": "col", "filter_expr": "meta_b > 2"})
    assert sorted(r["id"] for r in df.collect()) == ["4", "6"]


def test_milvus_sharded_read_no_duplicates(spark):
    """num_partitions > 1 must partition the scan by PK residue class —
    disjoint shards, every row exactly once, filters still applied."""
    a = MilvusAdapter(client_factory=milvus_factory)
    df = a.read(spark, {}, {"collection_name": "col", "num_partitions": 3})
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [str(i) for i in range(7)]  # no dups, no gaps
    df2 = a.read(
        spark,
        {},
        {"collection_name": "col", "num_partitions": 3, "filter_expr": "meta_b > 2"},
    )
    assert sorted(r["id"] for r in df2.collect()) == ["4", "6"]


def test_milvus_missing_collection(spark):
    a = MilvusAdapter(client_factory=milvus_factory)
    with pytest.raises(ValueError, match="does not exist"):
        a.read(spark, {}, {"collection_name": "nope"})


def test_milvus_write_conform_and_skip_missing_id(spark, tmp_path):
    # reference adapters/milvus.py:188-233 (C4 skip, C6 conform)
    conn = {"store_dir": str(tmp_path)}
    a = MilvusAdapter(client_factory=milvus_factory)
    df = spark.createDataFrame(
        [
            ("1", [0.1], {"meta_a": "x", "unknown": "drop"}),
            (None, [0.2], {}),
        ],
        "id string, vector array<float>, metadata map<string,string>",
    )
    a.write(df, conn, {"collection_name": "col"})
    recs = []
    for f in os.listdir(tmp_path):
        if f.startswith("col.rows"):
            recs += [json.loads(x) for x in open(tmp_path / f)]
    assert len(recs) == 1  # null-id row skipped
    # id and scalars back-coerced to the declared schema types: the
    # canonical string "1" must reach the INT64 PK as an int
    assert recs[0] == {"pk": 1, "vec": [0.10000000149011612], "meta_a": "x", "meta_b": None}

    with pytest.raises(ValueError, match="must exist"):
        a.write(df, conn, {"collection_name": "newcol"})


def test_pgvector_sql_construction():
    # reference tests/test_pgvector_adapter.py:104-105 — exact SQL text
    sql = build_select(
        {
            "table_name": "test_table",
            "id_column": "id",
            "vector_column": "embedding",
            "metadata_columns": ["name", "description"],
            "filter_condition": "category = 'test'",
        }
    )
    assert sql == (
        "SELECT id, embedding::text AS embedding, name, description "
        "FROM test_table WHERE category = 'test'"
    )
    assert jdbc_url({"host": "h", "port": 5555, "dbname": "db"}) == (
        "jdbc:postgresql://h:5555/db"
    )


def test_pgvector_reader_options(spark):
    a = PgVectorAdapter()
    reader = a.reader(
        spark,
        {"host": "h", "dbname": "d", "user": "u", "password": "p"},
        {"table_name": "t", "num_partitions": 8, "upper_bound": 1000},
    )
    opts = {
        k: v for k, v in reader._jreader_options().items()
    } if hasattr(reader, "_jreader_options") else None
    # fall back: assert via the plan string of the reader's options map
    # (options not publicly exposed; smoke: load fails only at connect)
    assert reader is not None


def test_pgvector_writer_plan(spark):
    a = PgVectorAdapter()
    df = spark.createDataFrame([("1", [0.1, 0.2], {"m": "v"})], CANONICAL_SCHEMA)
    writer = a.writer(
        df, {"host": "h"}, {"table_name": "t", "metadata_columns": ["m"], "batch_size": 7}
    )
    assert writer is not None  # configuration path; no live server to save to


class FakePgConnection:
    """Records DDL statements like the reference's MagicMock cursor
    (tests/test_pgvector_adapter.py:141-172)."""

    def __init__(self):
        self.executed = []
        self.committed = False
        self.closed = False

    def cursor(self):
        return self

    def execute(self, sql):
        self.executed.append(sql)

    def commit(self):
        self.committed = True

    def close(self):
        self.closed = True


def test_pgvector_ensure_table_ddl():
    """recreate_table on a fresh database must bootstrap driver-side:
    DROP, CREATE EXTENSION vector (impossible through the JDBC writer),
    CREATE TABLE with SERIAL pk + VECTOR(dim) + TEXT metadata — the
    reference's adapters/pgvector.py:162-196 sequence."""
    fake = FakePgConnection()
    a = PgVectorAdapter(connect_factory=lambda c: fake)
    ok = a.ensure_table(
        {"host": "h"},
        {"table_name": "t", "metadata_columns": ["name", "cat"]},
        dim=3,
    )
    assert ok and fake.committed and fake.closed
    assert fake.executed[0] == "DROP TABLE IF EXISTS t;"
    assert fake.executed[1] == "CREATE EXTENSION IF NOT EXISTS vector;"
    assert fake.executed[2] == (
        "CREATE TABLE t (id SERIAL PRIMARY KEY, "
        "embedding VECTOR(3), name TEXT, cat TEXT);"
    )


def test_pgvector_bootstrap_switches_writer_to_append():
    """After driver-side DDL the JDBC stage must APPEND — an overwrite
    would drop the table the bootstrap just created."""
    from vectordb_migrator_spark.sources.pgvector import _write_mode

    assert _write_mode({"recreate_table": True}, table_bootstrapped=True) == "append"
    assert (
        _write_mode({"recreate_table": True}, table_bootstrapped=False) == "overwrite"
    )
    assert _write_mode({}, table_bootstrapped=False) == "append"


def test_pgvector_no_dbapi_falls_back():
    """Without any DBAPI driver available, ensure_table reports False
    and the writer keeps the JDBC overwrite path."""
    a = PgVectorAdapter(connect_factory=lambda c: None)
    assert a.ensure_table({}, {"table_name": "t"}, dim=2) is False


class NegativePkMilvusClient(FakeMilvusClient):
    DATA = [
        {"pk": p, "vec": [float(p)], "meta_a": f"a{p}", "meta_b": None}
        for p in (-5, -4, -1, 0, 2, 3)
    ]


def test_milvus_sharded_read_keeps_negative_pks(spark):
    """Milvus evaluates % with C semantics: a negative PK has a
    negative residue, so the naive `pk % N == i` shard predicate
    matches NO shard and silently drops the row. The non-negative
    rewrite must read every row exactly once."""
    a = MilvusAdapter(client_factory=lambda c: NegativePkMilvusClient(c))
    out = a.read(
        spark, {}, {"collection_name": "col", "num_partitions": 3}
    ).collect()
    assert sorted(r["id"] for r in out) == ["-1", "-4", "-5", "0", "2", "3"]


def test_milvus_write_coerces_scalar_types(spark, tmp_path):
    """Stringified canonical metadata must be back-coerced to the
    collection's declared scalar types (INT64 meta_b gets an int)."""
    conn = {"store_dir": str(tmp_path)}
    a = MilvusAdapter(client_factory=milvus_factory)
    df = spark.createDataFrame(
        [("7", [0.5], {"meta_a": "x", "meta_b": "42"})],
        "id string, vector array<float>, metadata map<string,string>",
    )
    stats = _migrate_stats(df, "milvus", a, conn, {"collection_name": "col"})
    recs = []
    for f in os.listdir(tmp_path):
        if f.startswith("col.rows"):
            recs += [json.loads(x) for x in open(tmp_path / f)]
    assert recs == [{"pk": 7, "vec": [0.5], "meta_a": "x", "meta_b": 42}]
    assert stats == {
        "total_rows": 1, "rows_with_id": 1, "rows_with_vector": 1,
    }


def test_pgvector_schema_info_dimension_probe(spark, monkeypatch):
    """Reference parity (adapters/pgvector.py:262-285): schema info
    reports the vector columns and a sampled vector dimension."""
    from vectordb_migrator_spark.sources.pgvector import PgVectorAdapter

    a = PgVectorAdapter()
    queries = []

    class FakeDF:
        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    def fake_jdbc_query(spark_, connection, q):
        queries.append(q)
        if "information_schema" in q:
            return FakeDF(
                [
                    ("id", "integer", "int4"),
                    ("embedding", "USER-DEFINED", "vector"),
                    ("name", "text", "text"),
                ]
            )
        return FakeDF([("[0.25,-1.5,3.0,0.0]",)])

    monkeypatch.setattr(a, "_jdbc_query", fake_jdbc_query)
    info = a.get_schema_info(spark, {}, "items")
    assert info["vector_columns"] == ["embedding"]
    assert info["vector_dimension"] == 4
    assert info["columns"]["embedding"] == "USER-DEFINED"
    assert "embedding::text" in queries[1] and "LIMIT 1" in queries[1]


def test_pgvector_derive_bounds(spark, monkeypatch):
    """num_partitions without explicit bounds → one MIN/MAX probe
    (guessed bounds serialize the scan: everything outside the guess
    lands in one clamped edge partition)."""
    a = PgVectorAdapter()
    queries = []

    class FakeDF:
        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    monkeypatch.setattr(
        a,
        "_jdbc_query",
        lambda s, c, q: (queries.append(q), FakeDF([{"lo": 17, "hi": 9042}]))[1],
    )
    lo, hi = a.derive_bounds(
        spark, {}, {"table_name": "t", "id_column": "pk",
                    "filter_condition": "category = 'x'"}
    )
    assert (lo, hi) == (17, 9042)
    assert queries == [
        "SELECT MIN(pk) AS lo, MAX(pk) AS hi FROM t WHERE category = 'x'"
    ]
    # degenerate/empty table: JDBC requires lower < upper
    monkeypatch.setattr(
        a, "_jdbc_query", lambda s, c, q: FakeDF([{"lo": None, "hi": None}])
    )
    assert a.derive_bounds(spark, {}, {"table_name": "t"}) == (0, 1)

    # reader path: probe fires only when upper_bound is absent
    called = []
    monkeypatch.setattr(
        a, "derive_bounds", lambda s, c, q: (called.append(1), (3, 44))[1]
    )
    a.reader(spark, {"host": "h"}, {"table_name": "t", "num_partitions": 4})
    assert called == [1]
    called.clear()
    a.reader(
        spark, {"host": "h"},
        {"table_name": "t", "num_partitions": 4, "upper_bound": 10},
    )
    assert called == []


def test_qdrant_sharded_write(spark, tmp_path):
    """load.shard_key routes every upsert through shard_key_selector
    (write twin of the reader's shard_keys fan-out)."""
    conn = {"store_dir": str(tmp_path)}

    class ShardRecordingClient(FakeQdrantClient):
        def upsert(self, collection_name, points, shard_key_selector=None):
            for p in points:
                p["payload"]["_shard"] = shard_key_selector
            super().upsert(collection_name, points)

    a = QdrantAdapter(client_factory=lambda c: ShardRecordingClient(c))
    df = spark.createDataFrame(
        [("1", [0.1, 0.2], {}), ("2", [0.3, 0.4], {})],
        CANONICAL_SCHEMA,
    )
    a.write(df, conn, {"collection_name": "sharded", "shard_key": "eu"})
    points = _read_points(str(tmp_path), "sharded")
    assert len(points) == 2
    assert all(p["payload"]["_shard"] == "eu" for p in points.values())

    # without shard_key the selector is absent (default path untouched)
    a.write(df, conn, {"collection_name": "plain"})
    plain = _read_points(str(tmp_path), "plain")
    assert all(p["payload"]["_shard"] is None for p in plain.values())


def test_milvus_coerce_bad_numeric_null_fills():
    """A metadata value that can't parse as the declared numeric type
    null-fills (C6) instead of raising inside the write task."""
    assert coerce_to_field_type("3.5", "INT64") is None
    assert coerce_to_field_type("", "INT64") is None
    assert coerce_to_field_type("not-a-number", "FLOAT") is None
    assert coerce_to_field_type("7", "INT64") == 7
    assert coerce_to_field_type("2.5", "DOUBLE") == 2.5


def test_milvus_write_stats_count_dropped_rows(spark, tmp_path):
    """total_rows counts ALL input rows (pre-C4-filter) so accounting
    is comparable across sinks and dropped = total - with_id is
    observable; rows_with_vector counts vectors over all rows, the
    null-id row's included, as for every other sink."""
    conn = {"store_dir": str(tmp_path)}
    a = MilvusAdapter(client_factory=milvus_factory)
    df = spark.createDataFrame(
        [
            ("1", [0.1], {"meta_a": "x"}),
            (None, [0.2], {}),
            ("3", None, {}),
        ],
        "id string, vector array<float>, metadata map<string,string>",
    )
    stats = _migrate_stats(df, "milvus", a, conn, {"collection_name": "col"})
    assert stats["total_rows"] == 3
    assert stats["rows_with_id"] == 2
    assert stats["rows_with_vector"] == 2


from fake_backends import pinecone_factory  # noqa: E402


def test_pinecone_read_pages_and_fetches(spark):
    from vectordb_migrator_spark.sources.pinecone import PineconeAdapter

    a = PineconeAdapter(client_factory=pinecone_factory)
    df = a.read(spark, {}, {"index_name": "idx", "batch_size": 5})
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 12  # 3 pages of 5/5/2 — paged to exhaustion
    assert rows["v3"]["vector"] == [3.0, 1.0]
    assert rows["v3"]["metadata"] == {"tag": "t0"}
    assert df.schema == CANONICAL_SCHEMA


def test_pinecone_prefix_shards_disjoint(spark):
    from vectordb_migrator_spark.sources.pinecone import PineconeAdapter

    a = PineconeAdapter(client_factory=pinecone_factory)
    df = a.read(
        spark, {}, {"index_name": "idx", "id_prefixes": ["v1", "v2"]}
    )
    ids = sorted(r["id"] for r in df.collect())
    # v1 prefix covers v1, v10, v11; v2 covers v2 — disjoint union
    assert ids == ["v1", "v10", "v11", "v2"]
    assert df.rdd.getNumPartitions() == 2


def test_pinecone_residual_predicates(spark):
    from vectordb_migrator_spark.sources.pinecone import PineconeAdapter

    a = PineconeAdapter(client_factory=pinecone_factory)
    df = a.read(
        spark,
        {},
        {
            "index_name": "idx",
            "predicates": [{"col": "tag", "op": "eq", "value": "t1"}],
        },
    )
    assert sorted(r["id"] for r in df.collect()) == ["v1", "v10", "v4", "v7"]


def test_pinecone_write_upsert_and_index_ddl(spark, tmp_path):
    from vectordb_migrator_spark.sources.pinecone import PineconeAdapter

    conn = {"store_dir": str(tmp_path)}
    a = PineconeAdapter(client_factory=pinecone_factory)
    df = spark.createDataFrame(
        [("a", [0.1, 0.2], {"k": "x"}), ("b", None, {})], CANONICAL_SCHEMA
    )
    stats = _migrate_stats(
        df, "pinecone", a, conn,
        {"index_name": "idx", "create_index": True, "dimension": 2,
         "batch_size": 1},
    )
    assert json.load(open(tmp_path / "indexes.json")) == ["idx"]
    recs = {}
    for f in os.listdir(tmp_path):
        if f.startswith("idx.points"):
            for line in open(tmp_path / f):
                p = json.loads(line)
                recs[p["id"]] = p
    # canonical vectors are float32 — compare with a float tolerance
    assert recs["a"]["values"] == pytest.approx([0.1, 0.2])
    assert recs["a"]["metadata"] == {"k": "x"}
    assert recs["b"]["values"] == []  # null vector -> empty values
    assert stats == {
        "total_rows": 2, "rows_with_id": 2, "rows_with_vector": 1,
    }


def test_pgvector_staging_swap_ddl():
    """staging_swap publishes atomically: DROP old + RENAME staging in
    ONE transaction (Postgres DDL is transactional) — the distributed
    replacement for the reference's single-connection commit."""
    fake = FakePgConnection()
    a = PgVectorAdapter(connect_factory=lambda c: fake)
    ok = a.swap_staging({"host": "h"}, {"table_name": "items"})
    assert ok and fake.committed and fake.closed
    assert fake.executed == [
        "DROP TABLE IF EXISTS items;",
        "ALTER TABLE items__staging RENAME TO items;",
    ]


def test_pgvector_staging_swap_write_flow(spark, monkeypatch):
    """write(staging_swap=True) stages into {table}__staging with a
    fresh bootstrap, then swap-publishes; the reported mode names the
    swap. The JDBC stage itself is stubbed (no server here)."""
    conns = []

    def factory(c):
        conns.append(FakePgConnection())
        return conns[-1]

    a = PgVectorAdapter(connect_factory=factory)
    staged = {}

    class _W:
        def save(self):
            staged["saved"] = True

    def fake_writer(df, connection, load, *, table_bootstrapped=False):
        staged["table"] = load.get("table_name")
        staged["bootstrapped"] = table_bootstrapped
        return _W()

    monkeypatch.setattr(a, "writer", fake_writer)
    df = spark.createDataFrame(
        [(1, [0.1, 0.2], {"k": "v"})], "id long, vector array<float>, metadata map<string,string>"
    )
    out = a.write(df, {"host": "h"}, {"table_name": "items", "staging_swap": True})
    assert out == {"table": "items", "mode": "jdbc-staging-swap"}
    assert staged == {"table": "items__staging", "bootstrapped": True, "saved": True}
    # first conn bootstrapped staging; second performed the swap
    assert conns[0].executed[0] == "DROP TABLE IF EXISTS items__staging;"
    assert conns[1].executed == [
        "DROP TABLE IF EXISTS items;",
        "ALTER TABLE items__staging RENAME TO items;",
    ]


# ------------------------------------------- one implementation per backend

import fake_backends  # noqa: E402
from vectordb_migrator_spark.plans.pipeline import _flat_options  # noqa: E402
from vectordb_migrator_spark.sources.pinecone import PineconeAdapter  # noqa: E402

_WRITE_SCHEMA = "id string, vector array<float>, metadata map<string,string>"

#: backend → (adapter class, recording fake factory, read query, write load)
_BACKENDS = {
    "qdrant": (
        QdrantAdapter, "recording_qdrant_factory",
        {"collection_name": "c", "batch_size": 4, "num_partitions": 3},
        {"collection_name": "tgt", "vector_dimension": 2, "batch_size": 3},
    ),
    "milvus": (
        MilvusAdapter, "recording_milvus_factory",
        {"collection_name": "col", "num_partitions": 3},
        {"collection_name": "col", "batch_size": 3},
    ),
    "pinecone": (
        PineconeAdapter, "recording_pinecone_factory",
        {"index_name": "idx", "batch_size": 4, "id_prefixes": ["v1", "v2", "v3"]},
        {"index_name": "idx", "create_index": True, "dimension": 2, "batch_size": 3},
    ),
}


def _stored(backend, store):
    """Every point a fake sink wrote under ``store``, in a stable order."""
    prefix = {"qdrant": "tgt.points", "milvus": "col.points", "pinecone": "idx.points"}
    recs = []
    for f in os.listdir(store):
        if f.startswith(prefix[backend]):
            recs += [json.loads(x) for x in open(os.path.join(store, f))]
    return sorted(recs, key=json.dumps)


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
def test_adapter_and_format_paths_agree(spark, tmp_path, backend):
    """The Migrator adapter and ``format(backend)`` are two callers of
    one implementation: they read identical rows and write identical
    points (null-id row skipped, ids and scalars conformed), and every
    client the planner, DDL, scan and sink open is closed."""
    adapter_cls, factory, query, load = _BACKENDS[backend]
    adapter = adapter_cls(client_factory=getattr(fake_backends, factory))
    a_store, f_store = tmp_path / "adapter", tmp_path / "format"
    a_store.mkdir()
    f_store.mkdir()
    a_conn = {"store_dir": str(a_store)}
    f_opts = {"client_factory": f"fake_backends:{factory}", "store_dir": str(f_store)}

    by_adapter = adapter.read(spark, a_conn, query).collect()
    by_format = (
        spark.read.format(backend).options(**_flat_options(f_opts, query)).load().collect()
    )
    assert by_adapter and sorted(by_adapter) == sorted(by_format)

    df = spark.createDataFrame(
        [tuple(r) for r in by_adapter] + [(None, [0.5, 0.5], {"k": "v"})], _WRITE_SCHEMA
    ).repartition(2)
    stats = _migrate_stats(df, backend, adapter, a_conn, load)
    assert stats["total_rows"] == len(by_adapter) + 1
    df.write.format(backend).mode("append").options(**_flat_options(f_opts, load)).save()
    written = _stored(backend, a_store)
    assert len(written) == len(by_adapter)
    assert written == _stored(backend, f_store)

    for store in (a_store, f_store):
        opened, closed = fake_backends.client_events(str(store))
        assert opened > 0 and closed == opened


def test_milvus_batch_write_lands_one_row_per_pk(spark, tmp_path):
    """A batch Migrator write whose two partitions carry the same ids
    (what a retried task writes) leaves one row per pk: the sink
    upserts whenever the client can."""
    rows = [(str(i), [float(i), 0.5], {"meta_a": f"x{i}"}) for i in range(4)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows * 2, 2), _WRITE_SCHEMA)
    adapter = MilvusAdapter(client_factory=fake_backends.milvus_ds_factory)
    _migrate_stats(df, "milvus", adapter, {"store_dir": str(tmp_path)},
                   {"collection_name": "col", "batch_size": 3})
    rows = [
        json.loads(x)
        for f in os.listdir(tmp_path) if f.startswith("col.rows")
        for x in open(tmp_path / f)
    ]
    rows += fake_backends.read_upserted_points(str(tmp_path), "col", key="pk").values()
    assert sorted(r["pk"] for r in rows) == [0, 1, 2, 3]


def test_qdrant_sink_closes_client_when_upsert_fails(spark, tmp_path):
    """A task whose upsert raises still closes its client."""
    conn = {"store_dir": str(tmp_path)}
    adapter = QdrantAdapter(client_factory=fake_backends.recording_failing_qdrant_factory)
    df = spark.createDataFrame([("1", [0.1, 0.2], {})], CANONICAL_SCHEMA)
    with pytest.raises(Exception, match="upsert failed"):
        adapter.write(df, conn, {"collection_name": "tgt", "vector_dimension": 2})
    # the failure reaches the driver while the job's other (empty) sink
    # tasks may still be finishing; give them a bounded time to close
    deadline = time.monotonic() + 30
    opened, closed = fake_backends.client_events(str(tmp_path))
    while closed != opened and time.monotonic() < deadline:
        time.sleep(0.2)
        opened, closed = fake_backends.client_events(str(tmp_path))
    assert opened >= 2 and closed == opened  # the DDL client and the sink's
