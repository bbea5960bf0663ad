"""Spark 4 Python DataSource API connector tests.

The reference asserts mocked-client kwargs (``tests/test_qdrant_adapter
.py:106-113``); here the same style covers Spark's native planner
hooks: pushFilters translation → recorded server-side scroll_filter,
partition planning → physical scan width, DataSourceWriter → the
file-backed fake's upsert log.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fake_backends import FakeQdrantClient, read_upserted_points

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA

FACTORY = "fake_backends:qdrant_factory"
SPARSE_FACTORY = "fake_backends:qdrant_sparse_factory"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from vectordb_migrator_spark.sources.pyds import register_data_sources

    register_data_sources(spark)


def _reader(spark, factory=FACTORY, **opts):
    r = spark.read.format("qdrant").option("client_factory", factory)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r


def _recorded_scrolls(store_dir):
    out = []
    for f in sorted(os.listdir(store_dir)):
        if f.startswith("scrolls."):
            out += [json.loads(x) for x in open(os.path.join(store_dir, f))]
    return out


def test_native_read_full_scan(spark):
    """format("qdrant") pages the cursor to exhaustion — no reference
    truncation (adapters/qdrant.py:99-106)."""
    df = _reader(spark, collection_name="c", batch_size=10).load()
    assert df.schema == CANONICAL_SCHEMA
    rows = df.collect()
    assert sorted(int(r["id"]) for r in rows) == list(range(25))


def test_metadata_columns_schema(spark):
    """metadata_columns exposes payload keys as top-level string
    columns (SURVEY §1.4 typed variant) — the shape pushFilters can
    actually see."""
    df = _reader(spark, collection_name="c", metadata_columns="name").load()
    assert df.columns == ["id", "vector", "name"]
    assert df.filter(F.col("name") == "p3").count() == 1


def test_filter_pushdown_reaches_server(spark, tmp_path):
    """An IN filter over a payload column is translated to match/any
    and arrives server-side as scroll_filter — native Catalyst
    pushdown through the Python DataSource."""
    df = (
        _reader(
            spark,
            collection_name="c",
            metadata_columns="name",
            store_dir=str(tmp_path),
            record_scrolls="true",
        )
        .load()
        .filter(F.col("name").isin("p3", "p7"))
    )
    assert sorted(r["id"] for r in df.collect()) == ["3", "7"]
    rec = _recorded_scrolls(tmp_path)
    assert rec, "scan never reached the fake server"
    assert rec[0]["scroll_filter"] == {
        "must": [{"key": "name", "match": {"any": ["p3", "p7"]}}]
    }


def test_id_equality_pushdown_uses_has_id(spark, tmp_path):
    """id = '5' becomes has_id [5] (C2 digit-string coercion mirrored:
    adapters/qdrant.py:219-222)."""
    df = (
        _reader(
            spark,
            collection_name="c",
            store_dir=str(tmp_path),
            record_scrolls="true",
        )
        .load()
        .filter(F.col("id") == "5")
    )
    assert [r["id"] for r in df.collect()] == ["5"]
    rec = _recorded_scrolls(tmp_path)
    assert rec[0]["scroll_filter"] == {"must": [{"has_id": [5]}]}


def test_ne_is_partially_pushed(spark, tmp_path):
    """`name != 'p1'` prunes server-side via must_not BUT is returned
    to Spark too: the point with NO name key passes Qdrant's must_not
    yet must be dropped by Spark's three-valued logic."""
    df = (
        _reader(
            spark,
            factory=SPARSE_FACTORY,
            collection_name="c",
            metadata_columns="name",
            store_dir=str(tmp_path),
            record_scrolls="true",
        )
        .load()
        .filter(F.col("name") != "p1")
    )
    # ids 2..5 — p1 pruned server-side, id 0 (no name) dropped by Spark
    assert sorted(r["id"] for r in df.collect()) == ["2", "3", "4", "5"]
    rec = _recorded_scrolls(tmp_path)
    assert rec[0]["scroll_filter"] == {
        "must_not": [{"key": "name", "match": {"value": "p1"}}]
    }


def test_lexicographic_range_stays_spark_side(spark, tmp_path):
    """String ranges are lexicographic in Spark but numeric in Qdrant —
    never pushed; the scan stays unfiltered and Spark evaluates."""
    df = (
        _reader(
            spark,
            collection_name="c",
            metadata_columns="name",
            store_dir=str(tmp_path),
            record_scrolls="true",
        )
        .load()
        .filter(F.col("name") > "p5")
    )
    expected = sorted(
        p.payload["name"] for p in FakeQdrantClient.POINTS if p.payload["name"] > "p5"
    )
    assert sorted(r["name"] for r in df.collect()) == expected
    assert _recorded_scrolls(tmp_path)[0]["scroll_filter"] is None


def test_segmented_partition_planning(spark):
    """num_partitions drives the driver-side cursor segmentation into
    real InputPartitions — the physical scan fans out."""
    df = _reader(
        spark, collection_name="c", batch_size=5, num_partitions=4
    ).load()
    assert df.rdd.getNumPartitions() == 4  # segments of 7/7/7/4
    assert sorted(int(r["id"]) for r in df.collect()) == list(range(25))


def test_shard_key_partitions(spark):
    df = _reader(
        spark, collection_name="c", shard_keys=json.dumps([0, 1])
    ).load()
    assert df.rdd.getNumPartitions() == 2
    assert sorted(int(r["id"]) for r in df.collect()) == list(range(25))


def test_pushdown_composes_with_segment_planning(spark, tmp_path):
    """Pushed filters apply to the planner's count/segmentation pre-pass
    too, so segment budgets reflect the filtered corpus."""
    df = (
        _reader(
            spark,
            collection_name="c",
            num_partitions=2,
            store_dir=str(tmp_path),
            record_scrolls="true",
        )
        .load()
        .filter(F.col("id").isin("1", "2", "3", "10"))
    )
    assert sorted(int(r["id"]) for r in df.collect()) == [1, 2, 3, 10]
    # every scroll (planning pre-pass AND scan) carried the filter
    assert all(
        r["scroll_filter"] == {"must": [{"has_id": [1, 2, 3, 10]}]}
        for r in _recorded_scrolls(tmp_path)
    )


def test_write_append_creates_collection(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", [0.1, 0.2], {"k": "v"}), ("x9", [0.3, 0.4], {})],
        CANONICAL_SCHEMA,
    )
    (
        df.write.format("qdrant")
        .mode("append")
        .option("client_factory", FACTORY)
        .option("store_dir", str(tmp_path))
        .option("collection_name", "tgt")
        .option("vector_dimension", "2")
        .option("distance", "cosine")
        .option("batch_size", "1")
        .save()
    )
    cfg = FakeQdrantClient({"store_dir": str(tmp_path)}).get_collection("tgt")
    assert cfg["size"] == 2 and cfg["distance"] == "Cosine"
    points = read_upserted_points(str(tmp_path), "tgt")
    assert set(points) == {1, "x9"}  # C2: digit-string id → int
    assert points[1]["payload"] == {"k": "v"}


def test_write_overwrite_recreates(spark, tmp_path):
    store = str(tmp_path)
    old = FakeQdrantClient({"store_dir": store})
    old.create_collection("tgt", {"size": 99})
    old.upsert("tgt", [{"id": 9, "vector": [0.0], "payload": {}}])
    df = spark.createDataFrame([("1", [0.5], {})], CANONICAL_SCHEMA)
    (
        df.write.format("qdrant")
        .mode("overwrite")
        .option("client_factory", FACTORY)
        .option("store_dir", store)
        .option("collection_name", "tgt")
        .option("vector_dimension", "1")
        .save()
    )
    assert FakeQdrantClient({"store_dir": store}).get_collection("tgt")["size"] == 1
    assert 9 not in read_upserted_points(store, "tgt")


def test_write_new_collection_requires_dimension(spark, tmp_path):
    df = spark.createDataFrame([("1", [0.5], {})], CANONICAL_SCHEMA)
    with pytest.raises(Exception, match="vector_dimension"):
        (
            df.write.format("qdrant")
            .mode("append")
            .option("client_factory", FACTORY)
            .option("store_dir", str(tmp_path))
            .option("collection_name", "fresh")
            .save()
        )


def test_stream_writer_incremental_migration(spark, tmp_path):
    """writeStream.format("qdrant") — file-source microbatches upsert
    into the collection; a second stream over the same data (fresh
    checkpoint, simulating a full replay) leaves the same point set:
    exactly-once-per-id."""
    from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(store)
    rows = [(str(i), [float(i), 0.5], {"b": str(i % 2)}) for i in range(30)]
    spark.createDataFrame(rows, CANONICAL_SCHEMA).repartition(3).write.parquet(src)

    def run_stream(checkpoint):
        q = (
            spark.readStream.schema(CANONICAL_SCHEMA)
            .parquet(src)
            .writeStream.format("qdrant")
            .option("client_factory", FACTORY)
            .option("store_dir", store)
            .option("collection_name", "stream_tgt")
            .option("vector_dimension", "2")
            .option("batch_size", "7")
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_stream("ckpt1")
    points = read_upserted_points(store, "stream_tgt")
    assert set(points) == set(range(30))  # C2 digit-string ids → int
    assert points[3]["payload"] == {"b": "1"}
    cfg = FakeQdrantClient({"store_dir": store}).get_collection("stream_tgt")
    assert cfg["size"] == 2

    run_stream("ckpt2")  # full replay, fresh checkpoint
    replayed = read_upserted_points(store, "stream_tgt")
    assert set(replayed) == set(range(30))  # same ids — idempotent


# ------------------------------------------------------------- milvus

MILVUS_FACTORY = "fake_backends:milvus_ds_factory"


def _mreader(spark, **opts):
    r = spark.read.format("milvus").option("client_factory", MILVUS_FACTORY)
    r = r.option("collection_name", opts.pop("collection_name", "col"))
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r


def _recorded_queries(store_dir):
    out = []
    for f in sorted(os.listdir(store_dir)):
        if f.startswith("queries."):
            out += [json.loads(x) for x in open(os.path.join(store_dir, f))]
    return out


def test_milvus_native_read_canonical(spark):
    """Schema-driven scan: PK→id, first vector field, scalars→metadata
    with None values omitted (P3)."""
    df = _mreader(spark).load()
    assert df.schema == CANONICAL_SCHEMA
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(int(i) for i in rows) == list(range(12))
    assert rows["2"]["metadata"]["meta_b"] == "20"
    assert "meta_b" not in rows["1"]["metadata"]  # None omitted


def test_milvus_varchar_eq_fully_consumed(spark, tmp_path):
    """VARCHAR eq pushes as a server-side expr conjunct and is fully
    consumed — the recorded query proves server-side pruning."""
    df = (
        _mreader(
            spark,
            metadata_columns="meta_a,meta_b",
            store_dir=str(tmp_path),
            record_queries="true",
        )
        .load()
        .filter(F.col("meta_a") == "a1")
    )
    assert sorted(int(r["id"]) for r in df.collect()) == [1, 4, 7, 10]
    rec = _recorded_queries(tmp_path)
    assert rec and rec[0]["filter"] == 'meta_a == "a1"'


def test_milvus_numeric_range_stays_spark_side(spark, tmp_path):
    """A range on an INT64-typed scalar is NOT pushed: the server's
    typed comparison can prune rows Spark's string comparison on the
    declared schema would keep (INT64 5 < 40 yet '5' >= '40'), which
    would make results depend on spark.sql.python.filterPushdown.
    The scan goes to the wire unfiltered; Spark evaluates the string
    semantics over the full set — same rows with pushdown on or off."""
    df = (
        _mreader(
            spark,
            metadata_columns="meta_a,meta_b",
            store_dir=str(tmp_path),
            record_queries="true",
        )
        .load()
        .filter(F.col("meta_b") >= "40")
    )
    # Spark-only lexicographic compare: '40','60','80' (not '100',
    # '1' < '4'); nulls on odd ids drop by three-valued logic
    assert sorted(r["id"] for r in df.collect()) == ["4", "6", "8"]
    rec = _recorded_queries(tmp_path)
    assert rec and all("meta_b" not in (q["filter"] or "") for q in rec)


def test_milvus_id_pushdown_exact_digits_only(spark, tmp_path):
    df = (
        _mreader(
            spark, store_dir=str(tmp_path), record_queries="true"
        )
        .load()
        .filter(F.col("id").isin("3", "7"))
    )
    assert sorted(r["id"] for r in df.collect()) == ["3", "7"]
    assert _recorded_queries(tmp_path)[0]["filter"] == "pk in [3, 7]"


def test_milvus_residue_partitions(spark, tmp_path):
    """num_partitions shards by non-negative PK residue; disjoint and
    complete, with the pushed filter applied in every shard query."""
    df = (
        _mreader(
            spark,
            num_partitions=3,
            metadata_columns="meta_a,meta_b",
            store_dir=str(tmp_path),
            record_queries="true",
        )
        .load()
        .filter(F.col("meta_a") != "a0")
    )
    assert df.rdd.getNumPartitions() == 3
    expected = sorted(str(i) for i in range(12) if i % 3 != 0)
    assert sorted(r["id"] for r in df.collect()) == expected
    recs = _recorded_queries(tmp_path)
    assert len(recs) == 3
    assert all('meta_a != "a0"' in r["filter"] and "% 3" in r["filter"] for r in recs)


def test_milvus_native_write_conforms(spark, tmp_path):
    store = str(tmp_path)
    df = spark.createDataFrame(
        [
            ("1", [0.1, 0.2], {"meta_a": "x", "unknown": "drop", "meta_b": "7"}),
            (None, [0.2, 0.3], {}),  # C4 — skipped
            ("2", None, {"meta_b": "not-an-int"}),  # C6 — null-fills
        ],
        "id string, vector array<float>, metadata map<string,string>",
    )
    (
        df.write.format("milvus")
        .mode("append")
        .option("client_factory", MILVUS_FACTORY)
        .option("store_dir", store)
        .option("collection_name", "col")
        .save()
    )
    by_pk = read_upserted_points(store, "col", key="pk")
    assert set(by_pk) == {1, 2}  # null-id skipped, ids coerced to INT64 PK
    assert by_pk[1]["meta_a"] == "x" and by_pk[1]["meta_b"] == 7
    assert "unknown" not in by_pk[1]
    assert by_pk[2]["meta_b"] is None and by_pk[2]["vec"] is None


def test_milvus_write_refuses_missing_collection(spark, tmp_path):
    df = spark.createDataFrame([("1", [0.1], {})], CANONICAL_SCHEMA)
    with pytest.raises(Exception, match="must exist"):
        (
            df.write.format("milvus")
            .mode("append")
            .option("client_factory", MILVUS_FACTORY)
            .option("store_dir", str(tmp_path))
            .option("collection_name", "nope")
            .save()
        )


# ----------------------------------------------------------- pinecone

PINECONE_FACTORY = "fake_backends:pinecone_factory"


def test_pinecone_native_read_and_prefix_partitions(spark):
    df = (
        spark.read.format("pinecone")
        .option("client_factory", PINECONE_FACTORY)
        .option("index_name", "idx")
        .option("batch_size", "5")
        .load()
    )
    assert df.schema == CANONICAL_SCHEMA
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 12  # paged to exhaustion
    assert rows["v3"]["metadata"] == {"tag": "t0"}

    sharded = (
        spark.read.format("pinecone")
        .option("client_factory", PINECONE_FACTORY)
        .option("index_name", "idx")
        .option("id_prefixes", json.dumps(["v1", "v2"]))
        .load()
    )
    assert sharded.rdd.getNumPartitions() == 2
    assert sorted(r["id"] for r in sharded.collect()) == ["v1", "v10", "v11", "v2"]


def test_pinecone_filters_stay_spark_side(spark):
    """No pushFilters implemented — predicates evaluate post-scan and
    still produce correct results (metadata_columns typed view)."""
    df = (
        spark.read.format("pinecone")
        .option("client_factory", PINECONE_FACTORY)
        .option("index_name", "idx")
        .option("metadata_columns", "tag")
        .load()
        .filter(F.col("tag") == "t1")
    )
    assert sorted(r["id"] for r in df.collect()) == ["v1", "v10", "v4", "v7"]


def test_pinecone_native_write_with_ddl(spark, tmp_path):
    store = str(tmp_path)
    df = spark.createDataFrame(
        [("a", [0.1, 0.2], {"k": "x"}), ("b", None, {})], CANONICAL_SCHEMA
    )
    (
        df.write.format("pinecone")
        .mode("append")
        .option("client_factory", PINECONE_FACTORY)
        .option("store_dir", store)
        .option("index_name", "idx")
        .option("create_index", "true")
        .option("dimension", "2")
        .option("batch_size", "1")
        .save()
    )
    assert json.load(open(tmp_path / "indexes.json")) == ["idx"]
    recs = {}
    for f in os.listdir(store):
        if f.startswith("idx.points"):
            for line in open(os.path.join(store, f)):
                p = json.loads(line)
                recs[p["id"]] = p
    assert set(recs) == {"a", "b"}
    assert recs["b"]["values"] == []  # null vector → empty values


def test_native_writers_skip_null_id(spark, tmp_path):
    """C4 parity in the native sinks: null-id rows are skipped by the
    Qdrant and Pinecone sinks (no id=None point, no literal
    'None' string id), like the Milvus sink."""
    df = spark.createDataFrame(
        [("1", [0.1], {}), (None, [0.2], {})],
        "id string, vector array<float>, metadata map<string,string>",
    )
    qstore = tmp_path / "q"
    qstore.mkdir()
    (
        df.write.format("qdrant")
        .mode("append")
        .option("client_factory", FACTORY)
        .option("store_dir", str(qstore))
        .option("collection_name", "tgt")
        .option("vector_dimension", "1")
        .save()
    )
    assert set(read_upserted_points(str(qstore), "tgt")) == {1}

    pstore = tmp_path / "p"
    pstore.mkdir()
    (
        df.write.format("pinecone")
        .mode("append")
        .option("client_factory", PINECONE_FACTORY)
        .option("store_dir", str(pstore))
        .option("index_name", "idx")
        .option("create_index", "true")
        .option("dimension", "1")
        .save()
    )
    ids = set()
    for f in os.listdir(pstore):
        if f.startswith("idx.points"):
            for line in open(pstore / f):
                ids.add(json.loads(line)["id"])
    assert ids == {"1"}


def test_milvus_stream_sink_replay_idempotent(spark, tmp_path):
    """writeStream.format("milvus") — microbatches upsert by pk, so a
    full replay (fresh checkpoint over the same source) leaves the
    same row set: exactly-once-per-id, matching the Qdrant stream
    sink. Rows conform exactly like the batch sink (C4 null-id skip,
    C6 coercion)."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(str(i), [0.1 * i, 0.2], {"meta_a": f"x{i}"}) for i in range(9)]
        + [(None, [9.9, 9.9], {})],  # C4 — skipped
        "id string, vector array<float>, metadata map<string,string>",
    ).coalesce(1).write.parquet(src)

    def run_stream(checkpoint):
        q = (
            spark.readStream.schema(
                "id string, vector array<float>, metadata map<string,string>"
            )
            .parquet(src)
            .writeStream.format("milvus")
            .option("client_factory", MILVUS_FACTORY)
            .option("store_dir", store)
            .option("collection_name", "col")
            .option("batch_size", "4")
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_stream("ckpt1")
    points = read_upserted_points(store, "col", key="pk")
    assert sorted(points) == list(range(9))
    assert points[3]["meta_a"] == "x3"

    run_stream("ckpt2")  # full replay, fresh checkpoint
    replayed = read_upserted_points(store, "col", key="pk")
    assert replayed == points  # idempotent — no duplicates, same rows


def test_pinecone_stream_sink(spark, tmp_path):
    from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA as CS

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(store)
    spark.createDataFrame(
        [(f"s{i}", [float(i)], {}) for i in range(8)], CS
    ).write.parquet(src)
    q = (
        spark.readStream.schema(CS)
        .parquet(src)
        .writeStream.format("pinecone")
        .option("client_factory", PINECONE_FACTORY)
        .option("store_dir", store)
        .option("index_name", "idx")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    recs = set()
    for f in os.listdir(store):
        if f.startswith("idx.points"):
            for line in open(os.path.join(store, f)):
                recs.add(json.loads(line)["id"])
    assert recs == {f"s{i}" for i in range(8)}


def test_stream_reader_incremental_extraction(spark, tmp_path):
    """readStream.format("qdrant"): a first availableNow run drains the
    collection page by page; points appended afterwards surface in a
    SECOND run from the SAME checkpoint with no re-emission — the
    cursor offset survives in the checkpoint."""
    from fake_backends import FakeQdrantGrowingClient

    store = str(tmp_path)
    FakeQdrantGrowingClient.seed(
        store,
        [{"id": i, "vector": [float(i)], "payload": {"n": f"p{i}"}} for i in range(10)],
    )

    out = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("qdrant")
            .option("client_factory", "fake_backends:qdrant_growing_factory")
            .option("collection_name", "src")
            .option("store_dir", store)
            .option("batch_size", "4")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = sorted(int(r["id"]) for r in spark.read.parquet(out).collect())
    assert first == list(range(10))

    FakeQdrantGrowingClient.seed(
        store,
        [{"id": i, "vector": [float(i)], "payload": {}} for i in range(10, 15)],
    )
    run()
    # same checkpoint → only the 5 new points appended, no re-emission
    second = sorted(int(r["id"]) for r in spark.read.parquet(out).collect())
    assert second == list(range(15))
    r3 = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert r3["3"]["metadata"] == {"n": "p3"}


def test_streaming_migration_end_to_end(spark, tmp_path):
    """The complete native streaming migration: readStream from one
    collection, writeStream into another — the reference's future-work
    feature as one lazy pipeline with exactly-once-per-id."""
    from fake_backends import FakeQdrantGrowingClient

    store = str(tmp_path)
    FakeQdrantGrowingClient.seed(
        store,
        [{"id": i, "vector": [0.5, float(i)], "payload": {"s": "x"}}
         for i in range(12)],
    )
    q = (
        spark.readStream.format("qdrant")
        .option("client_factory", "fake_backends:qdrant_growing_factory")
        .option("collection_name", "src")
        .option("store_dir", store)
        .option("batch_size", "5")
        .load()
        .writeStream.format("qdrant")
        .option("client_factory", FACTORY)
        .option("collection_name", "tgt")
        .option("store_dir", store)
        .option("vector_dimension", "2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    points = read_upserted_points(store, "tgt")
    assert set(points) == set(range(12))  # ids coerced, all migrated
    assert points[7]["payload"] == {"s": "x"}


def test_milvus_stream_reader_pk_watermark(spark, tmp_path):
    """readStream.format("milvus"): the first availableNow run drains
    the collection; rows appended with higher PKs surface in a second
    run from the SAME checkpoint with no re-emission — the last_pk
    watermark survives in the checkpoint."""
    from fake_backends import FakeMilvusGrowingServer

    store = str(tmp_path)
    FakeMilvusGrowingServer.seed(
        store,
        [{"pk": i, "vec": [float(i), 0.5], "meta_a": f"a{i}", "meta_b": i}
         for i in range(8)],
    )
    out = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("milvus")
            .option("client_factory", "fake_backends:milvus_growing_factory")
            .option("collection_name", "col")
            .option("store_dir", store)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = sorted(int(r["id"]) for r in spark.read.parquet(out).collect())
    assert first == list(range(8))

    FakeMilvusGrowingServer.seed(
        store,
        [{"pk": i, "vec": [float(i), 0.5], "meta_a": None, "meta_b": None}
         for i in range(8, 12)],
    )
    run()
    second = sorted(int(r["id"]) for r in spark.read.parquet(out).collect())
    assert second == list(range(12))
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    # canonical metadata: None values omitted (P3), others stringified
    assert rows["3"]["metadata"] == {"meta_a": "a3", "meta_b": "3"}
    assert rows["9"]["metadata"] == {}


def test_milvus_stream_reader_requires_int_pk(spark):
    """A VARCHAR PK cannot drive the high-watermark cursor — the
    reader must refuse loudly rather than stream lexicographically."""
    import pytest as _pytest

    from vectordb_migrator_spark.sources.pyds import MilvusStreamScanReader
    from pyspark.sql.types import StructType

    class VarcharPkServer:
        def has_collection(self, name):
            return True

        def describe_collection(self, name):
            return {"fields": [
                {"name": "pk", "is_primary": True, "type": "VARCHAR"},
                {"name": "vec", "type": "FLOAT_VECTOR"},
            ]}

    import fake_backends

    fake_backends.varchar_pk_factory = lambda c: VarcharPkServer()
    schema = StructType.fromDDL("id string, vector array<float>, metadata map<string,string>")
    with _pytest.raises(ValueError, match="integer PK"):
        MilvusStreamScanReader(
            {"collection_name": "col",
             "client_factory": "fake_backends:varchar_pk_factory"},
            schema,
        )


def test_pinecone_stream_reader_id_watermark(spark, tmp_path):
    """readStream.format("pinecone"): first availableNow run drains the
    index; vectors appended with LATER-sorting ids surface in a second
    run from the SAME checkpoint with no re-emission."""
    from fake_backends import FakePineconeGrowingIndex

    store = str(tmp_path)
    FakePineconeGrowingIndex.seed(
        store,
        [{"id": f"v{i:03d}", "values": [float(i), 1.0],
          "metadata": {"tag": f"t{i}"}} for i in range(6)],
    )
    out = str(tmp_path / "out")

    def run():
        q = (
            spark.readStream.format("pinecone")
            .option("client_factory", "fake_backends:pinecone_growing_factory")
            .option("index_name", "idx")
            .option("store_dir", store)
            .option("batch_size", "4")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert first == [f"v{i:03d}" for i in range(6)]

    FakePineconeGrowingIndex.seed(
        store,
        [{"id": f"v{i:03d}", "values": [float(i), 1.0]} for i in range(6, 9)],
    )
    run()
    second = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert second == [f"v{i:03d}" for i in range(9)]
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert rows["v002"]["metadata"] == {"tag": "t2"}


def test_milvus_stream_reader_paged_past_server_cap(spark, tmp_path):
    """Round-5 (ADVICE): real Milvus silently caps query() results
    (~16k rows). With a fake server capping at 10 rows and a 25-row
    backlog, the unpaged reader would emit 10 rows and advance last_pk
    to their max — permanently skipping nothing-below-watermark rows.
    The paged pk-cursor loop must drain ALL rows in one availableNow
    run."""
    from fake_backends import FakeMilvusGrowingServer

    store = str(tmp_path)
    FakeMilvusGrowingServer.seed(
        store,
        [{"pk": i, "vec": [float(i), 0.5], "meta_a": f"a{i}", "meta_b": i}
         for i in range(25)],
    )
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("milvus")
        .option("client_factory", "fake_backends:milvus_growing_factory")
        .option("collection_name", "col")
        .option("store_dir", store)
        .option("connection", '{"query_cap": 10}')  # server truncates at 10
        .option("page_size", "10")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(int(r["id"]) for r in spark.read.parquet(out).collect())
    assert got == list(range(25))  # nothing skipped past the cap


def test_milvus_stream_reader_prefers_query_iterator(spark, tmp_path):
    """A client exposing query_iterator (the pymilvus complete-traversal
    API) is paged through it — correct even when plain query() caps."""
    from fake_backends import FakeMilvusIteratorServer

    store = str(tmp_path)
    FakeMilvusIteratorServer.seed(
        store,
        [{"pk": i, "vec": [float(i), 0.5], "meta_a": f"a{i}", "meta_b": i}
         for i in range(23)],
    )
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("milvus")
        .option("client_factory", "fake_backends:milvus_iterator_factory")
        .option("collection_name", "col")
        .option("store_dir", store)
        .option("connection", '{"query_cap": 5}')  # plain query() truncates
        .option("page_size", "7")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(int(r["id"]) for r in spark.read.parquet(out).collect())
    assert got == list(range(23))


def test_milvus_stream_pk_cursor_guards_non_contiguous_pages(spark, tmp_path):
    """Round-6 (ADVICE): the pk-cursor fallback advances past each full
    page's max pk, which is only safe when the page was the COMPLETE
    lowest-pk content of its interval. A server handing back arbitrary
    (here highest-pk-first) capped subsets must make the reader FAIL
    FAST — the alternative is silent, permanent row loss."""
    from fake_backends import FakeMilvusDescendingServer

    store = str(tmp_path)
    FakeMilvusDescendingServer.seed(
        store,
        [{"pk": i, "vec": [float(i), 0.5], "meta_a": f"a{i}", "meta_b": i}
         for i in range(25)],
    )
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("milvus")
        .option("client_factory", "fake_backends:milvus_descending_factory")
        .option("collection_name", "col")
        .option("store_dir", store)
        .option("connection", '{"query_cap": 10}')
        .option("page_size", "5")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="non-contiguous page"):
        q.awaitTermination(120)


def test_get_spark_raises_when_registration_fails(spark, monkeypatch):
    """A failed DataSource registration fails get_spark itself, instead
    of surfacing later as an unrelated "data source not found"."""
    from vectordb_migrator_spark.session import get_spark
    from vectordb_migrator_spark.sources import pyds

    def _fail(spark_):
        raise RuntimeError("registration failed")

    monkeypatch.setattr(pyds, "register_data_sources", _fail)
    with pytest.raises(RuntimeError, match="registration failed"):
        get_spark("tests", cpus=8, shuffle_partitions=8)
