"""CLI contract tests (reference cli/migrate.py behaviors)."""

from __future__ import annotations

import json

from vectordb_migrator_spark import __version__
from vectordb_migrator_spark.cli import main


def test_version_fast_path(capsys):
    assert main(["--version"]) == 0
    assert capsys.readouterr().out.strip() == __version__


def test_missing_config_is_error():
    assert main([]) == 1


def test_bad_config_exit_code(tmp_path):
    cfg = tmp_path / "c.json"
    cfg.write_text(json.dumps({"source": {"type": "nope"}, "target": {"type": "parquet"}}))
    assert main(["--config", str(cfg)]) == 1


def test_end_to_end_parquet_migration(spark, tmp_path):
    """Full CLI run: parquet → canonical → parquet, with a transform
    module loaded by path (reference T1 contract)."""
    out = str(tmp_path / "out")
    t = tmp_path / "t.py"
    t.write_text(
        "def transform(data):\n"
        "    for d in data:\n"
        "        d['metadata']['via'] = 'cli'\n"
        "    return data\n"
    )
    cfg = tmp_path / "c.json"
    cfg.write_text(
        json.dumps(
            {
                "source": {
                    "type": "parquet",
                    "query": {
                        "path": "/root/testdata/sf0.001/embeddings.parquet",
                        "id_column": "vec_id",
                        "vector_column": "embedding",
                        "metadata_columns": ["label"],
                        "limit": 50,
                    },
                },
                "target": {"type": "parquet", "load": {"path": out}},
            }
        )
    )
    assert main(["--config", str(cfg), "--transform", str(t), "--cpus", "8"]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.filter("metadata['via'] = 'cli'").count() == 50


def test_broken_transform_degrades_with_warning(spark, tmp_path, caplog):
    """Missing transform module → warning + continue (reference
    cli/migrate.py:85-93), not an abort."""
    out = str(tmp_path / "out2")
    cfg = tmp_path / "c.json"
    cfg.write_text(
        json.dumps(
            {
                "source": {
                    "type": "parquet",
                    "query": {
                        "path": "/root/testdata/sf0.001/embeddings.parquet",
                        "id_column": "vec_id",
                        "vector_column": "embedding",
                        "limit": 5,
                    },
                },
                "target": {"type": "parquet", "load": {"path": out}},
            }
        )
    )
    rc = main(
        ["--config", str(cfg), "--transform", str(tmp_path / "missing.py"), "--cpus", "8"]
    )
    assert rc == 0
    assert spark.read.parquet(out).count() == 5


def test_stream_cli_qdrant_to_qdrant(spark, tmp_path):
    """Round-5: `vectordb-migrate-spark --stream` runs a continuous
    migration from ONE JSON config — readStream.format(qdrant) →
    canonical transform → writeStream.format(qdrant), availableNow
    drain, cursor checkpointed. The reference's "future work"
    incremental migration as a single command."""
    from fake_backends import FakeQdrantGrowingClient, read_upserted_points

    store = str(tmp_path)
    FakeQdrantGrowingClient.seed(
        store,
        [{"id": i, "vector": [float(i), 1.0], "payload": {"n": f"p{i}"}}
         for i in range(9)],
    )
    cfg = tmp_path / "c.json"
    cfg.write_text(json.dumps({
        "source": {"type": "qdrant",
                   "connection": {"store_dir": store},
                   "query": {
                       "collection_name": "src",
                       "client_factory": "fake_backends:qdrant_growing_factory",
                       "batch_size": 4}},
        "target": {"type": "qdrant",
                   "connection": {"store_dir": store},
                   "load": {
                       "collection_name": "tgt",
                       "client_factory": "fake_backends:qdrant_growing_factory",
                       "vector_dimension": 2}},
        "stream": {"checkpoint": str(tmp_path / "ckpt")},
    }))
    assert main(["--config", str(cfg), "--stream", "--cpus", "8"]) == 0
    points = read_upserted_points(store, "tgt")
    assert set(points) == set(range(9))

    # append to the SOURCE; a second --stream run from the same
    # checkpoint migrates only the new points (watermark held)
    FakeQdrantGrowingClient.seed(
        store, [{"id": 100, "vector": [9.0, 9.0], "payload": {}}]
    )
    assert main(["--config", str(cfg), "--stream", "--cpus", "8"]) == 0
    points = read_upserted_points(store, "tgt")
    assert set(points) == set(range(9)) | {100}


def test_stream_cli_requires_checkpoint_and_streamable_types(spark, tmp_path):
    from vectordb_migrator_spark.plans.pipeline import StreamMigrator
    import pytest as _pytest

    base = {
        "source": {"type": "qdrant", "query": {"collection_name": "c"}},
        "target": {"type": "parquet", "load": {"path": str(tmp_path / "o")}},
    }
    with _pytest.raises(ValueError, match="stream.checkpoint"):
        StreamMigrator(spark, dict(base))
    bad = dict(base, source={"type": "pgvector", "query": {}},
               stream={"checkpoint": str(tmp_path / "ck")})
    with _pytest.raises(ValueError, match="no streaming endpoint"):
        StreamMigrator(spark, bad)


def test_stream_cli_parquet_source(spark, tmp_path):
    """The file-stream branch: parquet source (query.schema +
    query.path) streamed into a qdrant sink from one config."""
    from fake_backends import FakeQdrantGrowingClient, read_upserted_points
    from vectordb_migrator_spark.plans.pipeline import run_stream_migration

    store = str(tmp_path)
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(str(i), [float(i), 0.0], {"k": f"v{i}"}) for i in range(6)],
        "id string, vector array<float>, metadata map<string,string>",
    ).write.parquet(src)
    cfg = {
        "source": {"type": "parquet",
                   "query": {
                       "path": src,
                       "schema": "id string, vector array<float>, "
                                 "metadata map<string,string>"}},
        "target": {"type": "qdrant",
                   "connection": {"store_dir": store},
                   "load": {
                       "collection_name": "tgt",
                       "client_factory": "fake_backends:qdrant_growing_factory",
                       "vector_dimension": 2}},
        "stream": {"checkpoint": str(tmp_path / "ckpt")},
    }
    assert run_stream_migration(spark, cfg) is True
    assert set(read_upserted_points(store, "tgt")) == set(range(6))


def test_stream_migration_with_transform_to_parquet(spark, tmp_path):
    """A transform inside a streaming plan: file stream source →
    Arrow transform boundary → parquet stream sink, one config."""
    from vectordb_migrator_spark.operators.transform import add_source_tracking
    from vectordb_migrator_spark.plans.pipeline import run_stream_migration

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(str(i), [float(i), 0.5], {"k": f"v{i}"} if i % 2 else None)
         for i in range(6)],
        "id string, vector array<float>, metadata map<string,string>",
    ).write.parquet(src)
    cfg = {
        "source": {"type": "parquet",
                   "query": {
                       "path": src,
                       "schema": "id string, vector array<float>, "
                                 "metadata map<string,string>"}},
        "target": {"type": "parquet", "load": {"path": out}},
        "stream": {"checkpoint": str(tmp_path / "ckpt")},
    }

    def drop_id_0(data):
        return [d for d in data if d["id"] != "0"]

    tracked = add_source_tracking("stream", timestamp="2026-01-01T00:00:00")
    assert run_stream_migration(
        spark, cfg, lambda data: tracked(drop_id_0(data))
    ) is True
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert sorted(rows) == ["1", "2", "3", "4", "5"]
    assert rows["3"]["vector"] == [3.0, 0.5]
    assert rows["3"]["metadata"] == {
        "k": "v3", "source_db": "stream",
        "migration_timestamp": "2026-01-01T00:00:00",
    }
    assert rows["2"]["metadata"] == {
        "source_db": "stream", "migration_timestamp": "2026-01-01T00:00:00",
    }


def test_stream_cli_milvus_to_qdrant(spark, tmp_path):
    """Round-6: heterogeneous continuous migration from ONE config —
    readStream.format(milvus) (pk-watermark cursor, paged) →
    canonical transform → writeStream.format(qdrant)
    (idempotent-by-id upserts). Watermark resume and replay
    idempotence must hold across DIFFERENT connector families, not
    just the qdrant round-trip."""
    from fake_backends import (
        FakeMilvusGrowingServer,
        read_upserted_points,
    )

    store = str(tmp_path)
    FakeMilvusGrowingServer.seed(
        store,
        [{"pk": i, "vec": [float(i), 0.5], "meta_a": f"a{i}", "meta_b": i}
         for i in range(12)],
    )
    cfg = tmp_path / "c.json"
    cfg.write_text(json.dumps({
        "source": {"type": "milvus",
                   "connection": {"store_dir": store},
                   "query": {
                       "collection_name": "col",
                       "client_factory": "fake_backends:milvus_growing_factory",
                       "page_size": 5}},
        "target": {"type": "qdrant",
                   "connection": {"store_dir": store},
                   "load": {
                       "collection_name": "tgt",
                       "client_factory": "fake_backends:qdrant_growing_factory",
                       "vector_dimension": 2}},
        "stream": {"checkpoint": str(tmp_path / "ckpt")},
    }))
    assert main(["--config", str(cfg), "--stream", "--cpus", "8"]) == 0
    points = read_upserted_points(store, "tgt")
    assert set(points) == set(range(12))

    # append on the MILVUS side; the second run resumes from the
    # checkpointed pk watermark and upserts only the new rows —
    # replaying into qdrant stays idempotent by id
    FakeMilvusGrowingServer.seed(
        store,
        [{"pk": 50, "vec": [5.0, 5.0], "meta_a": "new", "meta_b": 1}],
    )
    assert main(["--config", str(cfg), "--stream", "--cpus", "8"]) == 0
    points = read_upserted_points(store, "tgt")
    assert set(points) == set(range(12)) | {50}
