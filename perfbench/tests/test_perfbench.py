"""Tests for the benchmark's own pure code (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import eventlog, gen, stats
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.probes import TimedClientFactory, TimedTransform, read_records
from perfbench.workloads import check_canonical_output

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
TINY = str(HERE / "data" / "tiny_eventlog.jsonl")


# ------------------------------------------------------------- event log


def test_eventlog_groups_jobs_tasks_and_sql_metrics():
    groups = eventlog.parse(TINY)
    mig = groups["mf|pipeline|migrate|0"]
    assert mig.jobs == 2 and len(mig.stage_list) == 2 and mig.tasks == 3
    assert mig.task_failures == 0
    assert len(mig.sql_starts) == 1
    # the transform's MapInPandas node and the parquet scan/write nodes
    assert mig.node("MapInPandas", "time to run Python workers") == pytest.approx(1.946)
    assert mig.node("MapInPandas", "data sent to Python workers") == 6195040
    assert mig.node("Execute InsertIntoHadoopFsRelationCommand", "written output") == 5217664
    assert mig.node("Scan parquet", "scan time") > 0
    assert mig.executor_run_s > mig.node("MapInPandas", "time to run Python workers")
    writes = [st for st in mig.stage_list
              if st.has_node("Execute InsertIntoHadoopFsRelationCommand")]
    assert len(writes) == 1 and writes[0].run_s > 0

    exec_group = groups["cs|suite|exec|x3_cosine_topk"]
    assert exec_group.jobs == 1 and exec_group.tasks == 1
    assert exec_group.sql_starts == [1792172008019]
    assert all(a <= b for a, b in exec_group.task_spans)


def test_eventlog_stops_at_a_torn_last_line(tmp_path):
    torn = tmp_path / "events_1_local-1"
    text = Path(TINY).read_text()
    torn.write_text(text + text.splitlines()[0][:40])
    assert eventlog.parse(str(torn)).keys() == eventlog.parse(TINY).keys()


def test_event_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_local-1").write_text("")
    names = [os.path.basename(f) for f in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_busy_seconds_merges_overlaps_and_clips():
    spans = [(1000, 2000), (1500, 2500), (4000, 5000), (9000, 9500)]
    assert eventlog.busy_seconds(spans, 0, 6000) == pytest.approx(2.5)
    assert eventlog.busy_seconds(spans, 2200, 4500) == pytest.approx(0.8)
    assert eventlog.busy_seconds([], 0, 1000) == 0


# ------------------------------------------------------------- statistics


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
     (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_summarize_reports_sample_count_and_supported_tail():
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3.0, "p50": 2.0}
    big = stats.summarize([float(i) for i in range(100)])
    assert big["n"] == 100 and big["p50"] == 49.5
    assert big["p90"] == pytest.approx(89.1)


# ------------------------------------------------------------- generator


def test_logical_byte_formula():
    assert gen.logical_bytes(id_len=3, dim=64, meta_len=10) == 3 + 256 + 10


def test_corpus_logical_bytes_match_its_files(tmp_path):
    c = gen.make_corpus(str(tmp_path / "c"), rows=500, files=3, seed=7)
    t = pq.read_table(str(tmp_path / "c"))
    assert t.num_rows == 500 and len(list((tmp_path / "c").iterdir())) == 3
    want = sum(
        gen.logical_bytes(
            len(str(r["id"]).encode()), len(r["vector"]),
            len("label") + len(r["label"].encode()) + len("src") + len(r["src"].encode()),
        )
        for r in t.to_pylist()
    )
    assert c.logical_bytes == want


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.make_corpus(str(tmp_path / "a"), rows=300, files=2, seed=1)
    b = gen.make_corpus(str(tmp_path / "b"), rows=300, files=2, seed=1)
    c = gen.make_corpus(str(tmp_path / "c"), rows=300, files=2, seed=2)
    assert a.checksum == b.checksum and np.array_equal(a.ids, b.ids)
    assert a.checksum != c.checksum
    assert pq.read_table(a.path).equals(pq.read_table(b.path))

    s1 = gen.make_suite_tables(str(tmp_path / "s1"), docs=200, vecs=100, seed=3)
    s2 = gen.make_suite_tables(str(tmp_path / "s2"), docs=200, vecs=100, seed=3)
    s3 = gen.make_suite_tables(str(tmp_path / "s3"), docs=200, vecs=100, seed=4)
    for t in ("documents", "embeddings"):
        one = pq.read_table(f"{s1.sf_dir}/{t}.parquet")
        assert one.equals(pq.read_table(f"{s2.sf_dir}/{t}.parquet"))
        assert not one.equals(pq.read_table(f"{s3.sf_dir}/{t}.parquet"))
    assert s1.logical_bytes == s2.logical_bytes


def test_vector_checksum_ignores_row_order_but_not_id_assignment():
    rng = np.random.default_rng(0)
    ids = np.arange(50, dtype=np.int64)
    v = rng.standard_normal((50, gen.DIM)).astype(np.float32)
    perm = rng.permutation(50)
    base = gen.vector_checksum(ids, v)
    assert gen.vector_checksum(ids[perm], v[perm]) == pytest.approx(base, rel=1e-12)
    assert gen.vector_checksum(ids, v[perm]) != pytest.approx(base, rel=1e-9)


# ------------------------------------------------------------- certificates


def _canonical(path: Path, corpus: gen.Corpus, vectors: np.ndarray, extra: dict) -> None:
    path.mkdir()
    maps = pa.array(
        [[("label", "x"), *extra.items()] for _ in range(corpus.rows)],
        pa.map_(pa.string(), pa.string()),
    )
    pq.write_table(
        pa.table({
            "id": pa.array([str(i) for i in corpus.ids]),
            "vector": pa.array(list(vectors), pa.list_(pa.float32())),
            "metadata": maps,
        }),
        str(path / "part-0.parquet"),
    )


def test_canonical_certificate_accepts_a_faithful_copy_and_rejects_a_bad_one(tmp_path):
    corpus = gen.make_corpus(str(tmp_path / "src"), rows=200, files=1, seed=5)
    vectors = pq.read_table(corpus.path).column("vector").to_pylist()
    vectors = np.array(vectors, dtype=np.float32)
    keys = {"label": None, "source_db": "perfbench"}

    _canonical(tmp_path / "good", corpus, vectors, {"source_db": "perfbench"})
    assert check_canonical_output(str(tmp_path / "good"), corpus, keys) == []

    bad = vectors.copy()
    bad[0, 0] += 1.0
    _canonical(tmp_path / "bad", corpus, bad, {"source_db": "other"})
    fails = check_canonical_output(str(tmp_path / "bad"), corpus, keys)
    assert any("checksum" in f for f in fails)
    assert any("source_db" in f for f in fails)


# ------------------------------------------------------------- probes


def test_timed_qdrant_client_counts_calls_and_points(tmp_path):
    from vectordb_migrator_spark.sources.demo_backend import qdrant_demo_factory

    trace = tmp_path / "trace"
    trace.mkdir()
    client = TimedClientFactory(qdrant_demo_factory, str(trace))(
        {"store_dir": str(tmp_path / "store")}
    )
    client.create_collection("c", {"size": 2})
    pts = [{"id": i, "vector": [0.0, 1.0], "payload": {}} for i in range(5)]
    client.upsert(collection_name="c", points=pts[:3])
    client.upsert(collection_name="c", points=pts[3:])
    client.count(collection_name="c")
    client.scroll(collection_name="c", limit=10, with_payload=False, with_vectors=False)
    client.scroll(collection_name="c", limit=4)
    client.close()
    (rec,) = read_records(str(trace), "qdrant")
    assert rec["upsert_calls"] == 2 and rec["upsert_points"] == 5
    assert rec["count_calls"] == 1
    assert rec["idscroll_calls"] == 1 and rec["idscroll_points"] == 5
    assert rec["scroll_calls"] == 1 and rec["scroll_points"] == 4
    assert rec["group"] == ""


def test_timed_transform_records_every_call(tmp_path):
    fn = TimedTransform(lambda data: data[:1], str(tmp_path))
    assert fn([{"id": "1"}, {"id": "2"}]) == [{"id": "1"}]
    fn([])
    recs = read_records(str(tmp_path), "udf")
    assert [r["rows"] for r in recs] == [2, 0]
    assert all(r["udf_s"] >= 0 for r in recs)


# ------------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_lists_the_metrics_this_package_reports():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} == {
        "migrate_file", "qdrant_roundtrip", "curation_suite"}
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == {
        k: (v.unit, v.better, v.bound) for k, v in END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: (v.unit, v.better) for k, v in PER_LAYER.items()}


def test_run_refuses_a_directory_without_the_program(tmp_path):
    import subprocess
    import sys

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migrate_file", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
