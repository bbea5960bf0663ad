"""T1 transform-surface tests (reference layer: tests/test_cli.py
transform loading, tests/test_core.py transform application)."""

from __future__ import annotations

from ast import literal_eval

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA
from vectordb_migrator_spark.operators.transform import (
    add_source_tracking,
    apply_transform,
    load_transform_function,
)


def test_load_transform_from_file(tmp_path):
    mod = tmp_path / "t.py"
    mod.write_text(
        "def transform(data):\n"
        "    return [d for d in data if d['id'] != '1']\n"
    )
    fn = load_transform_function(str(mod))
    assert fn([{"id": "1"}, {"id": "2"}]) == [{"id": "2"}]


def test_load_transform_degrades_to_none(tmp_path, capsys):
    # reference cli/migrate.py:85-93 — warn, don't abort
    assert load_transform_function(str(tmp_path / "missing.py")) is None
    mod = tmp_path / "not_a_transform.py"
    mod.write_text("x = 1\n")
    assert load_transform_function(str(mod)) is None


def test_add_source_tracking(spark):
    # reference examples/add_source_tracking.py:12-47
    df = spark.createDataFrame([("1", None, None)], CANONICAL_SCHEMA)
    out = apply_transform(
        df, add_source_tracking("pgvector", timestamp="2026-01-01T00:00:00")
    ).first()
    assert out["metadata"] == {
        "source_db": "pgvector",
        "migration_timestamp": "2026-01-01T00:00:00",
    }


def test_transform_can_modify_vectors(spark):
    # reference README.md:162-186 — "modify vector values"
    df = spark.createDataFrame([("1", [1.0, 2.0], {})], CANONICAL_SCHEMA)

    def double_vec(data):
        for d in data:
            d["vector"] = [x * 2 for x in d["vector"]]
        return data

    out = apply_transform(df, double_vec).first()
    assert out["vector"] == [2.0, 4.0]


def test_none_transform_is_identity(spark):
    df = spark.createDataFrame([("1", None, {})], CANONICAL_SCHEMA)
    assert apply_transform(df, None) is df


def _run(spark, rows, fn):
    df = spark.createDataFrame(rows, CANONICAL_SCHEMA)
    return sorted(
        (r.asDict() for r in apply_transform(df, fn).collect()),
        key=lambda r: r["id"],
    )


def _seen(data):
    """Echo each input record, as the user received it, into its own
    metadata — the transform runs in a Python worker, so this is how a
    test reads the worker-side view back."""
    for d in data:
        d["metadata"] = {
            "seen": repr(d),
            "types": repr([type(x).__name__ for x in d["vector"] or []]),
        }
    return data


def test_codec_null_vector_null_and_empty_metadata(spark):
    out = _run(
        spark,
        [("1", None, None), ("2", [1.0], {}), ("3", [2.0, 3.0], {"k": "v"})],
        _seen,
    )
    assert [literal_eval(r["metadata"]["seen"]) for r in out] == [
        {"id": "1", "vector": None, "metadata": {}},
        {"id": "2", "vector": [1.0], "metadata": {}},
        {"id": "3", "vector": [2.0, 3.0], "metadata": {"k": "v"}},
    ]
    assert [r["vector"] for r in out] == [None, [1.0], [2.0, 3.0]]
    # null metadata reaches the user as {}; returned as-is it stays {}
    (row,) = _run(spark, [("1", None, None)], lambda data: data)
    assert row == {"id": "1", "vector": None, "metadata": {}}


def test_codec_none_metadata_value_stays_null(spark):
    def add_null(data):
        for d in data:
            d["metadata"]["gone"] = None
        return data

    (row,) = _run(spark, [("1", [1.0], {"k": "v"})], add_null)
    assert row["metadata"] == {"k": "v", "gone": None}


def test_codec_stringifies_ids_and_metadata(spark):
    def retype(data):
        return [
            {"id": int(d["id"]) + 100, "vector": d["vector"],
             "metadata": {1: 2.5, "flag": True}}
            for d in data
        ]

    (row,) = _run(spark, [("1", [1.0], {})], retype)
    assert row == {"id": "101", "vector": [1.0],
                   "metadata": {"1": "2.5", "flag": "True"}}


def test_codec_drop_all_and_add_rows(spark):
    rows = [(str(i), [float(i)], {"i": str(i)}) for i in range(5)]
    df = spark.createDataFrame(rows, CANONICAL_SCHEMA)
    empty = apply_transform(df, lambda data: [])
    assert empty.schema == CANONICAL_SCHEMA
    assert empty.collect() == []

    def dup(data):
        return data + [dict(d, id=d["id"] + "b") for d in data]

    out = _run(spark, rows, dup)
    assert [r["id"] for r in out] == sorted(
        f"{i}{s}" for i in range(5) for s in ("", "b")
    )
    assert all(r["metadata"] == {"i": r["id"][0]} for r in out)


def test_codec_accepts_array_like_vectors(spark):
    def reshape(data):
        shapes = {
            "1": lambda v: np.asarray(v, dtype=np.float64),
            "2": tuple,
            "3": lambda v: [np.float32(x) for x in v],
            "4": lambda v: np.asarray(v, dtype=np.float32),
        }
        for d in data:
            d["vector"] = shapes[d["id"]](d["vector"])
        return data

    out = _run(spark, [(k, [0.5, 1.5], {}) for k in "1234"], reshape)
    assert [r["vector"] for r in out] == [[0.5, 1.5]] * 4


def test_codec_none_return_raises(spark):
    df = spark.createDataFrame([("1", [1.0], {})], CANONICAL_SCHEMA)
    with pytest.raises(Exception, match="transform returned None"):
        apply_transform(df, lambda data: None).collect()


def test_codec_vectors_arrive_as_python_floats(spark):
    (row,) = _run(spark, [("1", [0.1, 2.0], {})], _seen)
    assert row["metadata"]["types"] == "['float', 'float']"
    # float32 values widened exactly, so they round-trip unchanged
    assert literal_eval(row["metadata"]["seen"])["vector"] == [float(np.float32(0.1)), 2.0]
    assert row["vector"] == [float(np.float32(0.1)), 2.0]


def test_codec_matches_to_pylist_on_sliced_batches():
    """The offset-sliced decode equals the per-row ``to_pylist`` view
    (null metadata read as {}), also on a batch sliced off a larger
    one, whose list/map offsets do not start at 0; encoding the
    records again restores the batch."""
    import pyarrow as pa

    from vectordb_migrator_spark.operators.transform import (
        _ARROW_SCHEMA,
        _batch_to_records,
        _records_to_batch,
    )

    rng = np.random.default_rng(7)
    n = 50
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([str(i) for i in range(n)]),
            pa.array(
                [None if i % 7 == 0 else rng.random(i % 4).astype(np.float32)
                 for i in range(n)],
                _ARROW_SCHEMA.field("vector").type,
            ),
            pa.array(
                [None if i % 5 == 0 else {f"k{j}": (None if j == 2 else str(i))
                                          for j in range(i % 4)}
                 for i in range(n)],
                _ARROW_SCHEMA.field("metadata").type,
            ),
        ],
        schema=_ARROW_SCHEMA,
    )
    for b in (batch, batch.slice(13, 30), batch.slice(n, 0)):
        expected = [
            {"id": r["id"], "vector": r["vector"],
             "metadata": dict(r["metadata"] or [])}
            for r in b.to_pylist()
        ]
        got = _batch_to_records(b)
        assert got == expected
        back = _records_to_batch(got)
        assert back.schema == _ARROW_SCHEMA
        assert back.column("id").equals(b.column("id"))
        assert back.column("vector").to_pylist() == b.column("vector").to_pylist()
        assert [m or [] for m in back.column("metadata").to_pylist()] == [
            m or [] for m in b.column("metadata").to_pylist()
        ]
