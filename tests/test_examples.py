"""Packaging + examples parity with the reference distribution.

Reference ships ``pyproject.toml`` with console script
``vectordb-migrate`` (``/root/reference/pyproject.toml:55-58``) and a
runnable ``examples/`` directory (6 migration configs + a transform
module). This repo mirrors both: the console script cannot be
pip-installed inside this container (no ``wheel`` package, installs
disallowed), so the entry-point test resolves the declared
``[project.scripts]`` target from pyproject metadata and invokes it
directly, plus exercises the always-available ``python -m`` entry.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tomllib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

from tests.conftest import SF_DIR  # noqa: E402
EXAMPLES = sorted((ROOT / "examples").glob("*.json"))


def test_pyproject_declares_console_script():
    meta = tomllib.loads((ROOT / "pyproject.toml").read_text())
    scripts = meta["project"]["scripts"]
    assert scripts["vectordb-migrate-spark"] == "vectordb_migrator_spark.cli:main"


def test_console_entry_point_target_runs_version(capsys):
    """Resolve the [project.scripts] target the way an installed
    console script would and call it."""
    import importlib

    meta = tomllib.loads((ROOT / "pyproject.toml").read_text())
    mod_name, func_name = meta["project"]["scripts"][
        "vectordb-migrate-spark"
    ].split(":")
    fn = getattr(importlib.import_module(mod_name), func_name)
    assert fn(["--version"]) == 0
    from vectordb_migrator_spark import __version__

    assert capsys.readouterr().out.strip() == __version__
    assert meta["project"]["version"] == __version__


def test_python_m_entry_point_version():
    out = subprocess.run(
        [sys.executable, "-m", "vectordb_migrator_spark", "--version"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        check=True,
    )
    from vectordb_migrator_spark import __version__

    assert out.stdout.strip() == __version__


def test_examples_directory_covers_reference_set():
    names = {p.name for p in EXAMPLES}
    for ref_name in (
        "pgvector_to_qdrant_config.json",
        "pgvector_to_pinecone_config.json",
        "pgvector_to_milvus_docker_config.json",
        "pinecone_to_pgvector_config.json",
        "pinecone_to_qdrant_config.json",
        "qdrant_to_pgvector_config.json",
    ):
        assert ref_name in names
    assert (ROOT / "examples" / "add_source_tracking.py").exists()


@pytest.mark.parametrize("path", EXAMPLES, ids=[p.stem for p in EXAMPLES])
def test_example_config_loads(path):
    """Every shipped example parses and validates through load_config
    (registered adapter types, required sections), including the
    Docker example's *_params key aliases."""
    from vectordb_migrator_spark.plans.pipeline import _section, load_config

    cfg = load_config(str(path))
    for side in ("source", "target"):
        assert cfg[side]["type"]
        key = "query" if side == "source" else "load"
        assert isinstance(_section(cfg[side], key), dict)


def test_example_transform_module_loads_and_applies():
    from vectordb_migrator_spark.operators.transform import (
        load_transform_function,
    )

    fn = load_transform_function(str(ROOT / "examples" / "add_source_tracking.py"))
    assert fn is not None
    out = fn([{"id": "1", "vector": [0.1], "metadata": {}}])
    assert out[0]["metadata"]["source_db"] == "custom_source"
    assert "migration_timestamp" in out[0]["metadata"]


def test_parquet_roundtrip_example_runs(spark, tmp_path):
    """The parquet example is runnable end-to-end in this container —
    point its output at a tmp dir and migrate."""
    from vectordb_migrator_spark import run_migration

    cfg = json.loads((ROOT / "examples" / "parquet_roundtrip_config.json").read_text())
    cfg["target"]["load"]["path"] = str(tmp_path / "out")
    assert run_migration(spark, cfg) is True
    assert spark.read.parquet(str(tmp_path / "out")).count() == 500


def test_datasource_api_example_batch_and_stream(spark, tmp_path):
    """examples/datasource_api_pipeline.py runs end-to-end on the
    fakes: the category predicate reaches the qdrant scroll, conformed
    rows land in milvus, and the streaming variant upserts a parquet
    drop-folder into a collection."""
    import json as _json
    import os as _os
    import sys

    sys.path.insert(0, "examples")
    try:
        import datasource_api_pipeline as ex
    finally:
        sys.path.pop(0)

    store = str(tmp_path)
    ex.batch_copy(
        spark,
        source_opts={
            "client_factory": "fake_backends:qdrant_catalog_factory",
            "collection_name": "src",
            "store_dir": store,
            "record_scrolls": "true",
        },
        target_opts={
            "client_factory": "fake_backends:milvus_ds_factory",
            "collection_name": "col",
            "store_dir": store,
        },
    )
    # predicate reached the server
    scrolls = []
    for f in _os.listdir(store):
        if f.startswith("scrolls."):
            scrolls += [_json.loads(x) for x in open(_os.path.join(store, f))]
    assert scrolls and scrolls[0]["scroll_filter"] == {
        "must": [{"key": "category", "match": {"value": "product"}}]
    }
    from fake_backends import read_upserted_points

    assert sorted(read_upserted_points(store, "col", key="pk")) == [0, 2, 4, 6, 8]

    from vectordb_migrator_spark.canonical import CANONICAL_SCHEMA

    src_dir = str(tmp_path / "drop")
    spark.createDataFrame(
        [(str(i), [float(i)], {}) for i in range(5)], CANONICAL_SCHEMA
    ).write.parquet(src_dir)
    q = ex.incremental_stream(
        spark,
        input_path=src_dir,
        checkpoint=str(tmp_path / "ckpt"),
        target_opts={
            "client_factory": "fake_backends:qdrant_factory",
            "collection_name": "inc",
            "store_dir": store,
            "vector_dimension": "1",
        },
    )
    q.awaitTermination(120)
    assert set(read_upserted_points(store, "inc")) == set(range(5))


def test_datasource_streaming_migration_example(spark, tmp_path):
    import sys

    from fake_backends import FakeQdrantGrowingClient, read_upserted_points

    sys.path.insert(0, "examples")
    try:
        import datasource_api_pipeline as ex
    finally:
        sys.path.pop(0)

    store = str(tmp_path)
    FakeQdrantGrowingClient.seed(
        store, [{"id": i, "vector": [1.0], "payload": {}} for i in range(6)]
    )
    q = ex.streaming_migration(
        spark,
        source_opts={
            "client_factory": "fake_backends:qdrant_growing_factory",
            "collection_name": "src",
            "store_dir": store,
        },
        target_opts={
            "client_factory": "fake_backends:qdrant_factory",
            "collection_name": "mirror",
            "store_dir": store,
            "vector_dimension": "1",
        },
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert set(read_upserted_points(store, "mirror")) == set(range(6))


def test_operators_flat_exports_resolve():
    """Every name in operators.__all__ lazily resolves to a callable —
    the PEP 562 export surface stays in sync with the modules."""
    import vectordb_migrator_spark.operators as ops

    assert len(ops.__all__) >= 70
    for name in ops.__all__:
        assert callable(getattr(ops, name)), name
    import pytest as _pytest

    with _pytest.raises(AttributeError):
        ops.does_not_exist


def test_training_data_pipeline_example(spark):
    """examples/training_data_pipeline.py composes the curation
    pipeline through the flat operator API and produces packed chunks
    with the expected columns."""
    import sys

    sys.path.insert(0, str(ROOT / "examples"))
    try:
        import training_data_pipeline as ex
    finally:
        sys.path.pop(0)

    packed = ex.build_training_set(spark, "/root/testdata/sf0.001")
    cols = set(packed.columns)
    assert {"doc_id", "chunk_id", "n_tokens", "pack_id", "pack_offset"} <= cols
    assert packed.count() > 0


def test_incremental_curation_example(spark, tmp_path):
    """examples/incremental_curation.py: two arrival waves flow through
    gate -> dedup -> counts; the second wave's near-dup is dropped, the
    mixture re-plans from the counts store, shards re-export."""
    import sys as _sys

    _sys.path.insert(0, str(ROOT / "examples"))
    try:
        from incremental_curation import SCHEMA, run_cycle
    finally:
        _sys.path.pop(0)

    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "web"),
            (2, "a completely different first document", "book"),
        ],
        SCHEMA,
    ).write.parquet(inbox)
    r1 = run_cycle(spark, inbox, work)
    assert r1["corpus_rows"] == 2
    assert set(r1["shards"]) <= {0, 1, 2, 3}

    spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon", "web"),  # near-dup of 1
            (11, "a genuinely novel second wave text", "web"),
        ],
        SCHEMA,
    ).write.mode("append").parquet(inbox)
    r2 = run_cycle(spark, inbox, work)
    assert r2["corpus_rows"] == 3  # 10 dropped as near-dup
    assert set(r2["mixture"]) == {"web", "book"}
    assert sum(r2["shards"].values()) == 3
    # the standing curation report tracks the CLEAN stream (pre-dedup):
    # 4 docs total, 3 web / 1 book, everything derived from the grain
    # store without rescanning history
    assert r2["report"][("totals", "docs")] == 4.0
    assert ("quality_by_source", "web") in r2["report"]
    # doc 10 repeats doc 1's text verbatim -> web exact-dup rate 1/3
    assert abs(r2["report"][("dup_by_source", "web")] - 1 / 3) <= 0.05


def test_index_maintenance_example(spark, tmp_path):
    """examples/index_maintenance_pipeline.py: build -> batch probe ->
    O(batch) append -> health -> gated refit all run on the fixture
    and the store stays consistent (original + appended rows)."""
    import sys as _sys

    _sys.path.insert(0, str(ROOT / "examples"))
    try:
        from index_maintenance_pipeline import run_lifecycle
    finally:
        _sys.path.pop(0)

    out = run_lifecycle(
        spark, "/root/testdata/sf0.001/embeddings.parquet", str(tmp_path)
    )
    assert out["batch_hits"] == 15  # 3 probes x top-5
    assert out["rows"] == 510  # 500 originals + 10 appended
    assert out["partitions"] >= 2
    assert isinstance(out["refit_ran"], bool)


def test_curation_planning_pipeline_example(spark):
    """examples/curation_planning_pipeline.py: the round-7 planning
    dossier — all five report frames materialize with sane shapes."""
    sys.path.insert(0, str(ROOT / "examples"))
    try:
        import curation_planning_pipeline as ex
    finally:
        sys.path.pop(0)

    reports = ex.plan_curation(spark, "/root/testdata/sf0.001")
    assert set(reports) == {
        "triage", "readability", "buckets", "token_price", "mixture",
    }
    triage = {r["combo"]: r["n"] for r in reports["triage"].collect()}
    assert "" in triage and sum(triage.values()) > 0
    bands = {r["band"] for r in reports["readability"].collect()}
    assert bands <= {"easy", "medium", "hard"} and bands
    bk = reports["buckets"].collect()
    assert all(r["pad_tokens"] >= 0 for r in bk)
    tp = reports["token_price"].collect()
    assert all(r["tokens_per_word"] >= 1.0 for r in tp)
    mx = reports["mixture"].collect()
    assert abs(sum(r["weight"] for r in mx) - 1.0) < 1e-3


def test_experimentation_pipeline_battery(spark):
    """The composed decision battery runs end to end on real parquet
    and every statistic comes back populated and internally
    consistent (CUPED never widens the CI; jackknife CI brackets the
    mean)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "experimentation_analytics_pipeline",
        str(ROOT / "examples" / "experimentation_analytics_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = mod.run_battery(spark, f"{SF_DIR}/events.parquet")
    assert set(out) == {"psi", "mannwhitney", "ks", "jackknife", "cuped"}
    assert out["psi"]["psi"] is not None and out["psi"]["n_ref"] > 0
    assert out["ks"]["d"] is not None and 0 <= out["ks"]["d"] <= 1
    assert out["mannwhitney"]["u"] > 0
    jk = out["jackknife"]
    assert jk["ci_lo"] <= jk["mean"] <= jk["ci_hi"]
    cu = out["cuped"]
    assert cu["se_cuped"] is None or cu["se_cuped"] <= cu["se_naive"]


def test_preference_data_pipeline_example(spark):
    """examples/preference_data_pipeline.py: the round-9 preference-
    prep pass end to end at sf0.001 — gate, contests, BT strengths,
    bootstrap CIs, checksum-verified tar shards."""
    sys.path.insert(0, str(ROOT / "examples"))
    try:
        import preference_data_pipeline as ex
    finally:
        sys.path.pop(0)

    out = ex.run_pipeline(spark, f"{SF_DIR}/documents.parquet")
    assert out["gate"]["n_kept"] > 0
    strengths = {r["item"]: r for r in out["strengths"]}
    assert len(strengths) >= 2
    # normalized to mean 1
    mean_s = sum(r["score"] for r in strengths.values()) / len(strengths)
    assert abs(mean_s - 1.0) < 1e-4
    for r in out["ppl_ci"]:
        assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert out["shards"]["all_checksums_ok"] is True
    assert out["shards"]["n_members"] == out["gate"]["n_kept"]


def test_release_gate_pipeline_example(spark):
    """examples/release_gate_pipeline.py: the round-10 release gate
    end to end at sf0.001 — CUSUM alarms, Mann-Whitney shift, conformal
    intervals, per-type ship verdict."""
    sys.path.insert(0, str(ROOT / "examples"))
    try:
        import release_gate_pipeline as ex
    finally:
        sys.path.pop(0)

    out = ex.run_pipeline(spark, f"{SF_DIR}/events.parquet")
    assert out["verdict"], "at least one event type gated"
    for et, v in out["verdict"].items():
        assert set(v) == {"drift_alarm", "rank_shift",
                          "finite_interval", "ship"}
        # the verdict is the conjunction it claims to be
        assert v["ship"] == (
            not v["drift_alarm"]
            and not v["rank_shift"]
            and v["finite_interval"]
        )
        c = out["conformal"][et]
        if c["qhat"] is not None:
            assert c["coverage"] is not None


def test_image_corpus_pipeline_example(spark):
    """examples/image_corpus_pipeline.py: the round-10 JPEG tier end
    to end at sf0.001 — header triage, DC previews, full-decode spot
    check, degenerate filtering, checksum-verified tar shards."""
    sys.path.insert(0, str(ROOT / "examples"))
    try:
        import image_corpus_pipeline as ex
    finally:
        sys.path.pop(0)

    out = ex.run_pipeline(spark, f"{SF_DIR}/documents.parquet")
    t = out["triage"]
    assert t["rejected"] > 0  # the planted junk is caught, not decoded
    assert t["parsed"] + t["rejected"] == t["total"]
    assert out["previews"]["thumbnailed"] == t["parsed"]
    assert out["previews"]["flat_images"] > 0  # planted dups caught
    assert out["spot_check"]["decoded"] > 0
    assert out["spot_check"]["failed"] == 0  # triaged corpus decodes
    s = out["shards"]
    assert s["all_checksums_ok"] is True
    assert s["n_members"] == s["n_kept"]


def test_text_curation_budget_pipeline_example(spark):
    """examples/text_curation_budget_pipeline.py: the round-11
    curation chain end to end at sf0.001 — decontaminate -> novelty
    floor -> temperature budgets -> deterministic draw; the drawn
    sample must respect every language's Hamilton allocation exactly
    (up to pool availability) and the allocations sum to the budget."""
    sys.path.insert(0, str(ROOT / "examples"))
    try:
        import text_curation_budget_pipeline as ex
    finally:
        sys.path.pop(0)

    out = ex.run_pipeline(
        spark, f"{SF_DIR}/documents.parquet", budget=60
    )
    assert sum(out["alloc"].values()) == 60
    for lang, n in out["sample_by_lang"].items():
        assert n <= out["alloc"][lang]
    assert out["sample_count"] <= 60
    assert out["sample_count"] > 0


def test_objective_prep_pipeline_example(spark):
    """examples/objective_prep_pipeline.py: the round-12 objective
    transforms composed — every doc routes to exactly one objective,
    FIM rows carry the PSM sentinels, span rows reconstruct, packing
    respects the budget (overflow by at most one document), and the
    whole pipeline is deterministic."""
    import re

    from examples.objective_prep_pipeline import run_pipeline

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(4 + i % 30)))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = run_pipeline(docs, budget=64).collect()
    assert len(out) == 200  # every doc lands exactly once
    by_obj = {}
    for r in out:
        by_obj.setdefault(r["objective"], []).append(r)
    assert set(by_obj) == {"clm", "fim", "span"}
    for obj, rs in by_obj.items():
        assert 200 * 0.15 < len(rs) < 200 * 0.55, (obj, len(rs))

    texts = dict(rows)
    for r in by_obj["fim"]:
        assert r["input_text"].count("<PRE>") == 1
        assert r["input_text"].count("<SUF>") == 1
        assert r["input_text"].count("<MID>") == 1
        assert r["target_text"] is None
    for r in by_obj["clm"]:
        assert r["input_text"] == texts[r["doc_id"]]
        assert r["target_text"] is None
    for r in by_obj["span"]:
        parts = re.split(r"<X(\d+)>", r["target_text"])
        spans = {
            int(parts[k]): parts[k + 1].split()
            for k in range(1, len(parts) - 2, 2)
        }
        rebuilt = []
        for piece in r["input_text"].split():
            m = re.fullmatch(r"<X(\d+)>", piece)
            rebuilt += spans[int(m.group(1))] if m else [piece]
        assert rebuilt == texts[r["doc_id"]].lower().split()

    # packing: per (objective, pack), token sums respect the budget
    # with at most one overflowing document (contiguous-offset rule)
    for obj, rs in by_obj.items():
        packs = {}
        for r in rs:
            packs.setdefault(r["pack_id"], []).append(r)
        for pid, members in packs.items():
            total = sum(m["n_tokens"] for m in members)
            biggest = max(m["n_tokens"] for m in members)
            assert total - biggest < 64, (obj, pid)
            for m in members:
                assert 0 <= m["pack_offset"] < 64

    again = run_pipeline(docs, budget=64).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]
