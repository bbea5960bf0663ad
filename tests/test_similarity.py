"""Similarity search tests (X3/X4)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_migrator_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    knn_join,
    lsh_bucket_topk,
)
from tests.conftest import kernels_off


@pytest.fixture(scope="module")
def probe(embeddings):
    return [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    ]


def test_cosine_topk_matches_numpy(embeddings, probe):
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    p = np.array(probe)
    sims = (m @ p) / (np.linalg.norm(m, axis=1) * np.linalg.norm(p))
    order = np.lexsort((ids, -sims))[:10]
    expected = list(ids[order])

    got = [r["vec_id"] for r in cosine_topk(embeddings, probe, k=10).collect()]
    assert got == expected
    # self-similarity: probe is vec_id 0's own embedding
    assert got[0] == 0


def test_knn_join_rank_per_query(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    out = knn_join(queries, corpus, k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4]
        # rank 1 is the query itself (it is in the corpus)
        assert sorted(rows, key=lambda r: r["rank"])[0]["c_id"] == q


def test_ivf_matches_numpy_spec(embeddings, probe):
    """IVF = exact top-k restricted to the nprobe clusters whose mean
    centroid is most probe-similar — replicate that spec in numpy and
    require exact agreement."""
    rows = embeddings.select("vec_id", "label", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    p = np.array(probe)

    def cos(a, b):
        return (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    cents = {lb: m[labels == lb].mean(axis=0) for lb in set(labels.tolist())}
    shortlist = sorted(cents, key=lambda lb: (-cos(cents[lb], p), lb))[:2]
    mask = np.isin(labels, shortlist)
    sims = (m[mask] @ p) / (np.linalg.norm(m[mask], axis=1) * np.linalg.norm(p))
    order = np.lexsort((ids[mask], -sims))[:10]
    expected = list(ids[mask][order])

    approx = [
        r["vec_id"]
        for r in ivf_topk(
            embeddings, probe, cluster_col="label", k=10, nprobe=2
        ).collect()
    ]
    assert approx == expected


def test_lsh_bucket_contains_probe_bucket(embeddings, probe):
    planes = np.random.default_rng(7).standard_normal((4, 64)).tolist()
    out = lsh_bucket_topk(embeddings, probe, planes, k=10).collect()
    # the probe's own row hashes to its own bucket → always present
    assert out and out[0]["vec_id"] == 0


def test_knn_join_broadcasts_queries(embeddings):
    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    plan = (
        knn_join(queries, corpus, k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Broadcast" in plan  # corpus side must not shuffle


def test_rrf_fuse_combines_rankings(spark):
    from vectordb_migrator_spark.operators.ranking import rrf_fuse

    a = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], ["id", "score"]
    )
    b = spark.createDataFrame(
        [(3, 0.99), (4, 0.5)], ["id", "score"]
    )
    rows = rrf_fuse([a, b], rrf_k=60, k=10).collect()
    out = {r["id"]: (r["score"], r["n_lists"]) for r in rows}
    # doc 3: rank 3 in a, rank 1 in b → 1/63 + 1/61; in both lists
    assert out[3] == (round(1 / 63 + 1 / 61, 6), 2)
    assert out[1] == (round(1 / 61, 6), 1)
    assert out[4] == (round(1 / 62, 6), 1)
    # doc in both lists outranks single-list docs here
    assert rows[0]["id"] == 3

    import pytest

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_retrieval_metrics(spark):
    from vectordb_migrator_spark.operators.ranking import retrieval_metrics

    cand = spark.createDataFrame(
        [(1, 0.9), (5, 0.8), (2, 0.7), (9, 0.6)], ["vec_id", "score"]
    )
    truth = spark.createDataFrame([(2,), (5,), (7,)], ["vec_id"])
    row = retrieval_metrics(cand, truth, k=4).collect()[0]
    assert row["n_relevant"] == 3 and row["n_hits"] == 2
    assert row["recall_at_k"] == round(2 / 3, 6)
    assert row["mrr"] == 0.5  # first relevant is rank 2 (id 5)

    empty_truth_hits = retrieval_metrics(
        cand, spark.createDataFrame([(42,)], ["vec_id"]), k=4
    ).collect()[0]
    assert empty_truth_hits["n_hits"] == 0
    assert empty_truth_hits["mrr"] == 0.0


def test_retrieval_metrics_is_lazy(spark):
    """Building the metrics frame must fire NO Spark job — the
    relevant-set size is folded in as a broadcast aggregate, not an
    eager count(). Jobs appear only at the caller's action."""
    from vectordb_migrator_spark.operators.ranking import retrieval_metrics

    sc = spark.sparkContext
    cand = spark.createDataFrame(
        [(1, 0.9), (5, 0.8), (2, 0.7)], ["vec_id", "score"]
    )
    truth = spark.createDataFrame([(2,), (5,)], ["vec_id"])
    sc.setJobGroup("rm-lazy-probe", "laziness check")
    try:
        out = retrieval_metrics(cand, truth, k=3)
        assert list(sc.statusTracker().getJobIdsForGroup("rm-lazy-probe")) == []
        row = out.collect()[0]  # the caller's action — jobs fire here
        assert (
            len(sc.statusTracker().getJobIdsForGroup("rm-lazy-probe")) > 0
        )
    finally:
        sc.setJobGroup(None, None)
    assert row["n_relevant"] == 2 and row["n_hits"] == 2
    assert row["recall_at_k"] == 1.0 and row["mrr"] == 0.5


def test_binary_rerank_full_shortlist_equals_exact(spark):
    """With shortlist >= corpus size the Hamming stage prunes nothing,
    so the rerank must reproduce exact brute-force cosine top-k."""
    import random

    from vectordb_migrator_spark.operators.similarity import (
        binary_rerank_topk,
        cosine_topk,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = rows[0][1]
    exact = cosine_topk(df, probe, k=5).collect()
    rerank = binary_rerank_topk(df, probe, k=5, shortlist=60).collect()
    assert [(r["vec_id"], r["score"]) for r in rerank] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_pq_adc_matches_numpy(embeddings, probe):
    """PQ encode + ADC distance vs a NumPy reimplementation: identical
    codes and (rounded) distances for the full corpus."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_sampled_codebooks,
        python_pq_lut,
    )

    m, kc = 4, 16
    cbs = pq_sampled_codebooks(embeddings, m=m, k=kc)
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        for r in embeddings.collect()
    }
    dim = len(next(iter(vecs.values())))
    dsub = dim // m
    cb = np.array(cbs)  # (m, kc, dsub)

    def np_codes(v):
        return [
            int(np.argmin(((v[s * dsub : (s + 1) * dsub] - cb[s]) ** 2).sum(axis=1)))
            for s in range(m)
        ]

    enc = {r["vec_id"]: list(r["pq_code"])
           for r in pq_encode(embeddings, cbs).select("vec_id", "pq_code").collect()}
    assert enc == {vid: np_codes(v) for vid, v in vecs.items()}

    lut = np.array(python_pq_lut(probe, cbs))  # (m, kc)
    np_dist = {
        vid: round(float(sum(lut[s][c] for s, c in enumerate(codes))), 6)
        for vid, codes in enc.items()
    }
    top = sorted(np_dist.items(), key=lambda t: (t[1], t[0]))[:10]
    got = [
        (r["vec_id"], r["adc_dist"])
        for r in pq_adc_topk(embeddings, probe, cbs, k=10).collect()
    ]
    assert got == top


def test_pq_adc_plan_is_single_scan_topk(embeddings, probe):
    """The ADC query must stay one pruned scan + TakeOrderedAndProject:
    no shuffle, no join, no Python boundary."""
    from vectordb_migrator_spark.operators.similarity import (
        pq_adc_topk,
        pq_sampled_codebooks,
    )

    cbs = pq_sampled_codebooks(embeddings, m=4, k=16)
    plan = (
        pq_adc_topk(embeddings, probe, cbs, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_pq_adc_stored_codes_matches_inline(embeddings, probe):
    """ADC over materialized pq_code columns must equal the inline
    re-encoding variant, and its scan plan must contain NO squared-L2
    folds or argmin — just literal-LUT lookups over the code column."""
    from vectordb_migrator_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_codes,
        pq_encode,
        pq_sampled_codebooks,
    )

    cbs = pq_sampled_codebooks(embeddings, m=4, k=16)
    codes = (
        pq_encode(embeddings, cbs)
        .select("vec_id", "pq_code")
        .localCheckpoint(eager=True)
    )
    stored = pq_adc_topk_codes(codes, probe, cbs, k=10)
    inline = pq_adc_topk(embeddings, probe, cbs, k=10)
    assert [tuple(r) for r in stored.collect()] == [
        tuple(r) for r in inline.collect()
    ]
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "array_position" not in plan  # no per-row argmin
    assert "slice(" not in plan  # no subvector math
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_pq_sampled_codebooks_requires_dense_low_ids(spark):
    """A corpus missing ids 0..k-1 must raise loudly, not IndexError
    or silently build a short codebook."""
    import pytest

    from vectordb_migrator_spark.operators.similarity import (
        pq_sampled_codebooks,
    )

    df = spark.createDataFrame(
        [(100, [0.0] * 8), (101, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="0..15"):
        pq_sampled_codebooks(df, m=4, k=16)


def test_lsh_index_partition_pruning(spark, embeddings, probe, tmp_path):
    """The materialized LSH index must (a) return exactly the in-plan
    filter variant's results and (b) prune at the DIRECTORY level:
    the scan's PartitionFilters carries the bucket literal and only
    one partition's files are read."""
    from vectordb_migrator_spark.operators.similarity import (
        build_lsh_index,
        lsh_bucket_topk,
        lsh_index_topk,
        python_hyperplane_signature,
        random_hyperplane_signature,
    )

    import random

    rng = random.Random(3)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    path = str(tmp_path / "idx")
    build_lsh_index(embeddings, planes, path)

    inplan = lsh_bucket_topk(embeddings, probe, planes, k=10).collect()
    indexed = lsh_index_topk(spark, path, probe, planes, k=10)
    assert [tuple(r) for r in indexed.collect()] == [tuple(r) for r in inplan]

    sig = python_hyperplane_signature(probe, planes)
    spark_sig = (
        embeddings.limit(1)
        .select(
            random_hyperplane_signature(
                F.array(*[F.lit(float(x)) for x in probe]), planes
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    assert sig == spark_sig  # python twin matches the codegen signature
    import re

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and f"= {sig})" in m.group(1)  # pruned at the directory level
    dm = re.search(r"DataFilters: \[([^\]]*)\]", plan)
    assert dm and dm.group(1).strip() == ""  # nothing left to re-filter


def test_mmr_rerank_demotes_duplicates(spark):
    """MMR must pick one copy of a duplicated top hit, then prefer a
    diverse lower-scored candidate over the twin; pure relevance order
    would keep both twins on top."""
    from vectordb_migrator_spark.operators.ranking import mmr_rerank

    rows = [
        (1, [1.0, 0.0], 0.99),   # top hit
        (2, [1.0, 0.0], 0.98),   # exact twin of 1
        (3, [0.0, 1.0], 0.50),   # orthogonal, diverse
        (4, [0.7, 0.7], 0.60),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, score double"
    )
    out = mmr_rerank(df, k=3, lamb=0.5).collect()
    picked = [r["vec_id"] for r in out]
    assert picked[0] == 1  # best relevance first
    assert picked[1] == 3  # diversity beats the twin
    assert 2 not in picked[:2]
    assert [r["mmr_rank"] for r in out] == [1, 2, 3]


def test_recall_report_per_family_rows(spark):
    """A candidate list equal to the truth scores recall 1.0 / mrr 1.0;
    a disjoint list scores 0.0 / 0.0; rows come back tagged and
    family-ordered."""
    from vectordb_migrator_spark.operators.ranking import recall_report

    truth = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    perfect = spark.createDataFrame(
        [(i, 1.0 - i * 0.01) for i in range(10)], "vec_id long, score double"
    )
    disjoint = spark.createDataFrame(
        [(100 + i, float(i)) for i in range(10)], "vec_id long, hamming double"
    )
    out = recall_report(
        [
            ("z_disjoint", disjoint, [("hamming", True)]),
            ("a_perfect", perfect, [("score", False)]),
        ],
        truth,
        k=10,
    ).collect()
    assert [r["family"] for r in out] == ["a_perfect", "z_disjoint"]
    assert out[0]["recall_at_k"] == 1.0 and out[0]["mrr"] == 1.0
    assert out[1]["recall_at_k"] == 0.0 and out[1]["mrr"] == 0.0


def test_lsh_multiprobe_supersets_single_bucket(embeddings, probe):
    """The multi-probe candidate set contains the single-bucket set
    (the probe's own bucket is always scanned), and its top-k scores
    are >= the single-bucket ones pointwise."""
    from vectordb_migrator_spark.suite import _PLANES
    from vectordb_migrator_spark.operators.similarity import (
        lsh_bucket_topk,
        lsh_multiprobe_topk,
    )

    single = lsh_bucket_topk(embeddings, probe, _PLANES, k=10).collect()
    multi = lsh_multiprobe_topk(embeddings, probe, _PLANES, k=10).collect()
    assert len(multi) >= len(single)
    for s, m in zip(single, multi):
        assert m["score"] >= s["score"]


def test_mmr_rerank_edges(spark):
    """k beyond the candidate count returns every candidate once;
    an empty shortlist returns an empty typed frame."""
    from vectordb_migrator_spark.operators.ranking import mmr_rerank

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.9), (2, [0.0, 1.0], 0.8)],
        "vec_id long, embedding array<double>, score double",
    )
    out = mmr_rerank(df, k=10).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 2]
    assert [r["mmr_rank"] for r in out] == [1, 2]

    empty = mmr_rerank(df.limit(0), k=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "vec_id", "mmr_rank", "mmr_score",
    ]


def test_ivfpq_matches_numpy_spec(embeddings, probe):
    """IVFADC spec in NumPy: ADC distances restricted to the nprobe
    clusters with the most probe-similar mean centroids."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        ivfpq_topk,
        pq_sampled_codebooks,
        python_pq_lut,
    )

    m, kc, nprobe = 4, 16, 2
    cbs = pq_sampled_codebooks(embeddings, m=m, k=kc)
    rows = embeddings.select("vec_id", "label", "embedding").collect()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        for r in rows
    }
    labels = {r["vec_id"]: r["label"] for r in rows}
    p = np.array(probe)

    by_label = {}
    for vid, v in vecs.items():
        by_label.setdefault(labels[vid], []).append(v)
    cents = {lb: np.mean(vs, axis=0) for lb, vs in by_label.items()}
    sims = sorted(
        (
            (-(c @ p) / (np.linalg.norm(c) * np.linalg.norm(p)), lb)
            for lb, c in cents.items()
        )
    )
    probed = {lb for _, lb in sims[:nprobe]}

    cb = np.array(cbs)
    dim = len(p)
    dsub = dim // m
    lut = np.array(python_pq_lut(probe, cbs))
    np_dist = {}
    for vid, v in vecs.items():
        if labels[vid] not in probed:
            continue
        codes = [
            int(np.argmin(((v[s * dsub : (s + 1) * dsub] - cb[s]) ** 2).sum(axis=1)))
            for s in range(m)
        ]
        np_dist[vid] = round(float(sum(lut[s][c] for s, c in enumerate(codes))), 6)
    expected = sorted(np_dist.items(), key=lambda t: (t[1], t[0]))[:10]

    got = [
        (r["vec_id"], r["adc_dist"])
        for r in ivfpq_topk(
            embeddings, probe, cbs, cluster_col="label", k=10, nprobe=nprobe
        ).collect()
    ]
    assert got == expected


def test_ivfpq_full_nprobe_equals_pq_adc(embeddings, probe):
    """With nprobe = nlist the coarse stage prunes nothing: IVFADC must
    degrade to exactly the flat ADC scan."""
    from vectordb_migrator_spark.operators.similarity import (
        ivfpq_topk,
        pq_adc_topk,
        pq_sampled_codebooks,
    )

    cbs = pq_sampled_codebooks(embeddings, m=4, k=16)
    nlist = embeddings.select("label").distinct().count()
    flat = pq_adc_topk(embeddings, probe, cbs, k=10).collect()
    ivf = ivfpq_topk(
        embeddings, probe, cbs, cluster_col="label", k=10, nprobe=nlist
    ).collect()
    assert [tuple(r) for r in ivf] == [tuple(r) for r in flat]


def test_range_search_matches_numpy_and_streams(embeddings, probe):
    """Radius search equals the NumPy threshold filter, and its plan is
    a pure scan+filter — no sort, no exchange, no Python."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import cosine_range_search

    rows = embeddings.select("vec_id", "embedding").collect()
    p = np.array(probe)
    expected = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        s = round(float((v @ p) / (np.linalg.norm(v) * np.linalg.norm(p))), 6)
        if s >= 0.2:
            expected[r["vec_id"]] = s

    out = cosine_range_search(embeddings, probe, threshold=0.2)
    got = {r["vec_id"]: r["score"] for r in out.collect()}
    assert got == expected
    assert 0 in got  # probe is vec_id 0's own embedding (score 1.0)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Sort" not in plan
    assert "BatchEvalPython" not in plan


def test_sq_topk_matches_numpy_and_plan(embeddings, probe):
    """Int8 SQ retrieval equals the NumPy quantize→dequantize→cosine
    spec, and the plan is one scan + TakeOrderedAndProject."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import sq_topk

    rows = embeddings.select("vec_id", "embedding").collect()
    p = np.array(probe)
    scored = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        scale = np.abs(v).max() / 127.0
        dv = np.zeros_like(v) if scale == 0 else np.floor(v / scale + 0.5) * scale
        denom = np.linalg.norm(dv) * np.linalg.norm(p)
        scored[r["vec_id"]] = round(float((dv @ p) / denom), 6)
    expected = sorted(scored.items(), key=lambda t: (-t[1], t[0]))[:10]

    out = sq_topk(embeddings, probe, k=10)
    got = [(r["vec_id"], r["score"]) for r in out.collect()]
    assert got == expected

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_suite_recall_report_covers_all_families(spark):
    """The suite's ANN recall report carries one row per index family
    — including the round-4 IVFADC and int8-SQ additions — with exact
    truth giving every family a recall in [0, 1] and sq_int8 (near-
    exact 4x quantization) at least matching binary Hamming (lossy
    32x)."""
    from vectordb_migrator_spark.suite import QUERIES

    from tests.conftest import SF_DIR

    rows = {r["family"]: r for r in QUERIES["x4_recall_report"](spark, SF_DIR).collect()}
    assert sorted(rows) == [
        "binary_hamming",
        "binary_rerank",
        "ivf_label",
        "ivfpq_adc",
        "lsh_bucket",
        "lsh_multiprobe",
        "pq_adc",
        "sq_int8",
    ]
    for fam, r in rows.items():
        assert 0.0 <= r["recall_at_k"] <= 1.0, fam
        assert 0.0 <= r["mrr"] <= 1.0, fam
    assert rows["sq_int8"]["recall_at_k"] >= rows["binary_hamming"]["recall_at_k"]


def test_filtered_topk_prefilter_semantics(embeddings, probe):
    """Filtered search = exact top-k restricted to the predicate
    survivors (pre-filter semantics), with the payload column riding
    through the single scan — no join-back, filter pushed to parquet."""
    import numpy as np

    rows = embeddings.select("vec_id", "label", "embedding").collect()
    p = np.array(probe)
    scored = {}
    for r in rows:
        if r["label"] not in (1, 3, 5) or r["vec_id"] % 2:
            continue
        v = np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        scored[r["vec_id"]] = round(
            float((v @ p) / (np.linalg.norm(v) * np.linalg.norm(p))), 6
        )
    expected = [
        vid for vid, _ in sorted(scored.items(), key=lambda t: (-t[1], t[0]))[:10]
    ]

    out = cosine_topk(
        embeddings.filter(
            F.col("label").isin(1, 3, 5) & (F.col("vec_id") % 2 == 0)
        ),
        probe,
        k=10,
        payload_cols=["label"],
    )
    got = out.collect()
    assert [r["vec_id"] for r in got] == expected
    assert all(r["label"] in (1, 3, 5) for r in got)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert "PushedFilters: [" in plan and "In(label" in plan


def test_pq_with_lloyd_refined_codebooks(spark, embeddings, probe):
    """The docstring claim that kmeans_fit codebooks plug into the
    same encode/ADC path: fit each subspace's codewords with Lloyd
    iterations over the subvectors, run pq_encode + stored-code ADC
    with them, and check codes and distances against NumPy with the
    SAME codebooks. Also: the refined codebooks must quantize at least
    as well (corpus-total ADC reconstruction error) as the id-sampled
    ones — the reason you'd pay for the fit."""
    import numpy as np

    from vectordb_migrator_spark.operators.clustering import kmeans_fit
    from vectordb_migrator_spark.operators.similarity import (
        pq_adc_topk_codes,
        pq_encode,
        pq_sampled_codebooks,
        python_pq_lut,
    )

    m, kc = 4, 8
    rows = embeddings.select("vec_id", "embedding").collect()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float32).astype(np.float64)
        for r in rows
    }
    dim = len(next(iter(vecs.values())))
    dsub = dim // m

    cbs = []
    for s in range(m):
        sub = embeddings.select(
            "vec_id",
            F.slice(F.col("embedding").cast("array<double>"), s * dsub + 1, dsub
                    ).alias("sub"),
        )
        _, cents, _ = kmeans_fit(sub, k=kc, vec_col="sub", max_iter=10)
        cbs.append(cents)

    cb = np.array(cbs)  # (m, kc, dsub)

    def np_codes(v):
        return [
            int(np.argmin(((v[s * dsub:(s + 1) * dsub] - cb[s]) ** 2).sum(axis=1)))
            for s in range(m)
        ]

    enc = pq_encode(embeddings, cbs).select("vec_id", "pq_code").collect()
    got_codes = {r["vec_id"]: list(r["pq_code"]) for r in enc}
    assert got_codes == {vid: np_codes(v) for vid, v in vecs.items()}

    lut = np.array(python_pq_lut(probe, cbs))
    np_dist = {
        vid: round(float(sum(lut[s][c] for s, c in enumerate(cs))), 6)
        for vid, cs in got_codes.items()
    }
    expected = sorted(np_dist.items(), key=lambda t: (t[1], t[0]))[:10]
    codes_df = pq_encode(embeddings, cbs).select("vec_id", "pq_code")
    got = [
        (r["vec_id"], r["adc_dist"])
        for r in pq_adc_topk_codes(codes_df, probe, cbs, k=10).collect()
    ]
    assert got == expected

    # quantization error: Lloyd-refined <= id-sampled (same m, k)
    sampled = np.array(pq_sampled_codebooks(embeddings, m=m, k=kc))

    def total_err(book):
        e = 0.0
        for v in vecs.values():
            for s in range(m):
                sub = v[s * dsub:(s + 1) * dsub]
                e += float(((sub - book[s]) ** 2).sum(axis=1).min())
        return e

    assert total_err(cb) <= total_err(sampled)


def test_ivf_index_partition_pruning(spark, embeddings, probe, tmp_path):
    """The materialized IVF layout: results equal the in-plan ivf_topk,
    and the probe's scan prunes partitions (PartitionFilters on the
    cluster column) instead of filtering rows."""
    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, cluster_col="label")
    out = ivf_index_topk(spark, path, probe, cluster_col="label", k=10, nprobe=2)
    inplan = ivf_topk(embeddings, probe, cluster_col="label", k=10, nprobe=2)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in inplan.collect()]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "label" in plan.split("PartitionFilters", 1)[1][:200]
    assert "Exchange" not in plan


def test_hard_negative_join_excludes_same_label(spark):
    """Every returned candidate has a different label than its query;
    ranks are dense 1..k by descending score; same-label rows never
    appear even when they are the global nearest."""
    from vectordb_migrator_spark.operators.similarity import hard_negative_join

    queries = spark.createDataFrame(
        [(0, 7, [1.0, 0.0])],
        "q_id long, q_label int, q_vec array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (10, 7, [1.0, 0.0]),   # identical but SAME label → excluded
            (11, 3, [0.9, 0.1]),   # best hard negative
            (12, 3, [0.0, 1.0]),   # orthogonal
            (13, 4, [0.8, 0.2]),
        ],
        "c_id long, c_label int, c_vec array<double>",
    )
    out = hard_negative_join(queries, corpus, k=2).collect()
    assert [(r["c_id"], r["rank"]) for r in out] == [(11, 1), (13, 2)]
    assert all(r["c_label"] != 7 for r in out)


def test_sql_udfs_match_column_api(spark, embeddings):
    """vm_cosine / vm_l2_normalize / vm_token_count agree with the
    Column-API kernels on real data, and the registration is
    idempotent."""
    from vectordb_migrator_spark.functions.sql_udfs import register_sql_functions
    from vectordb_migrator_spark.functions.vector import cosine_similarity

    names = register_sql_functions(spark)
    assert register_sql_functions(spark) == names  # idempotent
    embeddings.limit(20).createOrReplaceTempView("__sqludf_emb")
    got = spark.sql(
        """
        SELECT vec_id,
               round(vm_cosine(cast(embedding AS array<double>),
                               cast(embedding AS array<double>)), 6) AS c,
               round(vm_norm(vm_l2_normalize(cast(embedding AS array<double>))),
                     6) AS n
        FROM __sqludf_emb
        """
    ).collect()
    assert all(abs(r["c"] - 1.0) < 1e-6 and abs(r["n"] - 1.0) < 1e-6 for r in got)
    tok = spark.sql(
        "SELECT vm_token_count('  a  b\tc ') AS n"
    ).first()["n"]
    assert tok == 3
    j = spark.sql(
        "SELECT vm_jaccard(array('a','b','c'), array('b','c','d')) AS j, "
        "vm_hamming64(5, 3) AS h"
    ).first()
    assert abs(j["j"] - 0.5) < 1e-9 and j["h"] == 2


def test_ivf_index_append_incremental(spark, embeddings, probe, tmp_path):
    """Appending a batch assigns it to the FROZEN stored centroids and
    lands only new partitions-files; a probe then sees old + new rows,
    and the batch rows go to their argmin centroid's directory."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_topk,
    )

    path = str(tmp_path / "ivf")
    base = embeddings.filter(F.col("vec_id") < 40)
    build_ivf_index(base, path, cluster_col="label")
    before = spark.read.parquet(f"{path}/corpus").count()

    # a batch that duplicates existing vectors under fresh ids — its
    # argmin assignment must therefore equal the original labels
    batch = embeddings.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    ivf_index_append(spark, path, batch, cluster_col="label")

    after = spark.read.parquet(f"{path}/corpus")
    assert after.count() == before + 10
    orig = {r["vec_id"]: r["label"] for r in base.collect()}
    for r in after.filter(F.col("vec_id") >= 10_000).collect():
        # same vector → same (nearest-centroid) partition as some
        # original copy; centroid table untouched
        assert r["vec_id"] - 10_000 in orig
    out = ivf_index_topk(spark, path, probe, cluster_col="label", k=5, nprobe=2)
    ids = [r["vec_id"] for r in out.collect()]
    assert 10_000 in ids  # vec 0 duplicates the probe — new row surfaces


def test_ivf_filtered_topk_prefilter_and_pruning(spark, embeddings, probe, tmp_path):
    """Pre-filter semantics: every result satisfies the predicate; the
    plan keeps PartitionFilters (directory pruning) AND the pushed
    payload predicate on one scan."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_filtered_topk,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, cluster_col="label")
    out = ivf_index_filtered_topk(
        spark, path, probe, F.col("label") % 2 == 0,
        cluster_col="label", k=5, nprobe=4,
    )
    rows = out.collect()
    assert rows and len(rows) <= 5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    labels = {r["vec_id"] for r in rows}
    lab = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    assert all(lab[v] % 2 == 0 for v in labels)


def test_ivf_index_health_and_refit(spark, embeddings, probe, tmp_path):
    """Round-5: the footer-count health check reports the layout's
    imbalance; refit is a no-op while healthy, rebuilds (rename-swap
    publish) when the gate is passed, and the refit layout still
    answers probes identically to an in-plan scan over its own
    assignment."""
    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_health,
        ivf_index_refit,
        ivf_index_topk,
        ivf_topk,
    )
    import pyspark.sql.functions as F

    path = str(tmp_path / "ivf")
    # deliberately skewed coarse clustering: everything in one bucket
    skewed = embeddings.withColumn(
        "cluster", F.when(F.col("vec_id") < 10, 1).otherwise(0)
    )
    build_ivf_index(skewed, path, cluster_col="cluster")
    h = {r["cluster"]: r for r in ivf_index_health(spark, path).collect()}
    assert set(h) == {0, 1}
    assert h[0]["imbalance"] > 1.5  # the skew is visible

    # healthy-threshold gate: imbalance above it -> no-op is False path
    assert ivf_index_refit(spark, path, k=4, max_imbalance=100.0) is False
    # drifted past the gate -> rebuild happens and balance improves
    assert ivf_index_refit(spark, path, k=4, max_imbalance=1.2) is True
    h2 = ivf_index_health(spark, path).collect()
    assert len(h2) == 4
    assert h2[0]["imbalance"] < h[0]["imbalance"]

    # probes over the refit layout equal the in-plan IVF on the same
    # stored assignment (nprobe=k probes everything -> exact)
    stored = spark.read.parquet(path + "/corpus")
    expect = [
        tuple(r)
        for r in ivf_topk(
            stored, probe, cluster_col="cluster", k=5, nprobe=4
        ).collect()
    ]
    got = [
        tuple(r)
        for r in ivf_index_topk(
            spark, path, probe, cluster_col="cluster", k=5, nprobe=4
        ).collect()
    ]
    assert got == expect


def test_ivf_index_batch_matches_single_probes(spark, embeddings, tmp_path):
    """The batched layout probe must return, per probe, exactly the
    rows the single-probe path returns (same nprobe, same tie rule) —
    batching changes the scan count, never the results."""
    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_batch_topk,
        ivf_index_topk,
    )
    import pyspark.sql.functions as F

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, cluster_col="label")
    probes = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    batch = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in ivf_index_batch_topk(
            spark, path, probes, cluster_col="label", k=5, nprobe=2
        ).collect()
    }
    for pr in probes.collect():
        single = ivf_index_topk(
            spark,
            path,
            [float(x) for x in pr["q_vec"]],
            cluster_col="label",
            k=5,
            nprobe=2,
        ).collect()
        for rank, row in enumerate(single, start=1):
            got_id, got_score = batch[(pr["q_id"], rank)]
            assert got_id == row["vec_id"]
            assert abs(got_score - row["score"]) < 1e-6


def test_ivf_refit_crash_window_recovery(spark, embeddings, probe, tmp_path):
    """Round-6 (ADVICE): a crash between refit's delete and rename
    leaves the index missing at `path` with the complete new
    generation at `path__refit`. Every reader/maintainer calls
    ivf_finish_swap first, so the next touch completes the publish
    instead of erroring on a missing index."""
    import shutil

    import pyspark.sql.functions as F

    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_finish_swap,
        ivf_index_health,
        ivf_index_topk,
    )

    path = str(tmp_path / "ivf")
    assigned = embeddings.withColumn(
        "cluster", (F.col("vec_id") % 3).cast("int")
    )
    build_ivf_index(assigned, path, cluster_col="cluster")
    # simulate the crash window: finished __refit sibling, path gone
    shutil.move(path, path + "__refit")
    assert ivf_finish_swap(spark, path) is True
    assert not os.path.exists(path + "__refit")
    # healed layout answers health and probes normally
    assert len(ivf_index_health(spark, path).collect()) == 3
    assert len(
        ivf_index_topk(spark, path, probe, cluster_col="cluster", k=3).collect()
    ) == 3
    # idempotent once healthy
    assert ivf_finish_swap(spark, path) is False


def test_ivf_refit_keeps_custom_cluster_col(spark, embeddings, tmp_path):
    """Round-6 (ADVICE): refit on an index built with a custom
    partition-column name must republish under the SAME name — health
    and probes using the original name keep working."""
    import pyspark.sql.functions as F

    from vectordb_migrator_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_health,
        ivf_index_refit,
    )

    path = str(tmp_path / "ivf")
    skewed = embeddings.withColumn(
        "coarse_bucket", F.when(F.col("vec_id") < 5, 1).otherwise(0)
    )
    build_ivf_index(skewed, path, cluster_col="coarse_bucket")
    assert (
        ivf_index_refit(
            spark, path, k=4, cluster_col="coarse_bucket", max_imbalance=1.2
        )
        is True
    )
    corpus = spark.read.parquet(path + "/corpus")
    assert "coarse_bucket" in corpus.columns
    h = ivf_index_health(spark, path, cluster_col="coarse_bucket").collect()
    assert len(h) == 4


def test_opq_balanced_permutation_properties():
    """Round-6: the OPQ permutation fit — both strategies return a
    true permutation with equal subspace capacity, and the fitted
    layout's per-subspace variance spread beats identity."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        opq_balanced_permutation,
    )

    rng = np.random.default_rng(11)
    for _ in range(20):
        d, m = 64, 4
        variances = list(rng.gamma(2.0, 1.0, d))
        for strategy in ("serpentine", "greedy"):
            perm = opq_balanced_permutation(variances, m, strategy=strategy)
            assert sorted(perm) == list(range(d))  # a real permutation
            loads = [
                sum(variances[perm[i]] for i in range(s * (d // m),
                                                      (s + 1) * (d // m)))
                for s in range(m)
            ]
            id_loads = [
                sum(variances[s * (d // m):(s + 1) * (d // m)])
                for s in range(m)
            ]
            assert max(loads) - min(loads) <= max(id_loads) - min(id_loads)
            # within each subspace source dims are listed ascending
            for s in range(m):
                block = perm[s * (d // m):(s + 1) * (d // m)]
                assert block == sorted(block)


def test_opq_greedy_matches_numpy_replica():
    """The greedy (LPT) strategy must reproduce an independent NumPy
    replica exactly — same ranking round, same tie-breaks."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        opq_balanced_permutation,
    )

    def replica(variances, m):
        v = np.asarray(variances)
        d = len(v)
        cap = d // m
        order = sorted(range(d), key=lambda i: (-round(float(v[i]), 9), i))
        members = [[] for _ in range(m)]
        loads = np.zeros(m)
        for dim in order:
            open_s = [s for s in range(m) if len(members[s]) < cap]
            s = min(open_s, key=lambda s: (loads[s], s))
            members[s].append(dim)
            loads[s] += v[dim]
        out = []
        for s in range(m):
            out.extend(sorted(members[s]))
        return out

    rng = np.random.default_rng(17)
    for _ in range(25):
        variances = list(rng.gamma(2.0, 1.0, 32))
        got = opq_balanced_permutation(variances, 4, strategy="greedy")
        assert got == replica(variances, 4)
    # ties: identical variances deal round-robin (lowest-load, then
    # lowest subspace), deterministically
    flat = [1.0] * 16
    assert opq_balanced_permutation(flat, 4, strategy="greedy") == [
        0, 4, 8, 12, 1, 5, 9, 13, 2, 6, 10, 14, 3, 7, 11, 15,
    ]
    with pytest.raises(ValueError, match="strategy"):
        opq_balanced_permutation(flat, 4, strategy="nope")
    with pytest.raises(ValueError, match="divisible"):
        opq_balanced_permutation([1.0] * 10, 4)


def test_ndcg_at_k_perfect_and_degraded(spark):
    """Round-6: nDCG is 1 for the ideal ordering, lower for the same
    ids in reversed order (the position sensitivity recall@k lacks),
    and 0 when nothing relevant is retrieved."""
    import math

    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.ranking import ndcg_at_k

    k = 5
    truth = spark.createDataFrame(
        [(i, i) for i in range(1, k + 1)], ["vec_id", "rank"]
    )
    ideal = spark.createDataFrame(
        [(i, float(k - i)) for i in range(1, k + 1)], ["vec_id", "score"]
    )
    r = ndcg_at_k(ideal, truth, k=k).first()
    assert r["ndcg"] == 1.0 and r["dcg"] == r["idcg"]

    reverse = spark.createDataFrame(
        [(i, float(i)) for i in range(1, k + 1)], ["vec_id", "score"]
    )
    r2 = ndcg_at_k(reverse, truth, k=k).first()
    assert 0 < r2["ndcg"] < 1.0

    miss = spark.createDataFrame(
        [(100 + i, float(i)) for i in range(1, k + 1)], ["vec_id", "score"]
    )
    r3 = ndcg_at_k(miss, truth, k=k).first()
    assert r3["ndcg"] == 0.0

    # replica check on the reversed case
    gains = sorted(range(1, k + 1), reverse=True)  # truth gains k..1
    dcg = sum((k + 1 - (k + 1 - p)) / math.log2(p + 1) for p in range(1, k + 1))
    idcg = sum(g / math.log2(i + 2) for i, g in enumerate(gains))
    assert abs(r2["ndcg"] - round(dcg / idcg, 6)) < 1e-9


def test_maxsim_topk_rewards_multi_facet_docs(spark):
    from vectordb_migrator_spark.operators.ranking import maxsim_topk

    # query has two orthogonal facets; doc 1 covers BOTH in different
    # sub-vectors, doc 2 nails one facet twice, doc 3 is orthogonal
    docs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 0.0001]),
        ],
        "doc_id long, vec array<double>",
    ).filter("doc_id != 3 or vec[1] > 0")  # keep frame non-trivial
    q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "q_id long, qv array<double>"
    )
    out = maxsim_topk(docs, q, k=3).collect()
    scores = {r["doc_id"]: r["maxsim"] for r in out}
    # doc1: max cos per facet = 1 + 1 = 2; doc2: 1 + 0 = 1
    assert scores[1] == 2.0
    assert scores[2] == 1.0
    assert out[0]["doc_id"] == 1
    # doc3 matches facet 2 exactly (cosine is scale-invariant)
    assert scores[3] == 1.0


def test_maxsim_topk_ties_break_by_doc_id(spark):
    from vectordb_migrator_spark.operators.ranking import maxsim_topk

    docs = spark.createDataFrame(
        [(7, [1.0, 0.0]), (5, [1.0, 0.0])], "doc_id long, vec array<double>"
    )
    q = spark.createDataFrame([(0, [1.0, 0.0])], "q_id long, qv array<double>")
    out = maxsim_topk(docs, q, k=2).collect()
    assert [r["doc_id"] for r in out] == [5, 7]


def test_maxsim_topk_zero_norm_vectors_score_zero(spark):
    """ADVICE r6: a zero-norm sub-vector contributes similarity 0.0 —
    it must not drop out of the (doc, q) max via NULL, and a doc whose
    sub-vectors are ALL zero-norm gets maxsim 0.0, not NULL."""
    from vectordb_migrator_spark.operators.ranking import maxsim_topk

    docs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),      # aligned with q
            (2, [0.0, 0.0]),      # all-zero doc
            (3, [0.0, 0.0]),
            (3, [0.0, 1.0]),      # zero vec must not mask this one
        ],
        "doc_id long, vec array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.0, 1.0])], "q_id long, qv array<double>"
    )
    out = {r["doc_id"]: r["maxsim"] for r in maxsim_topk(docs, q, k=3).collect()}
    assert out[2] == 0.0          # not NULL
    assert out[3] == 1.0          # max(0, cos) picked the real vector
    assert out[1] == 1.0


def test_ivfpq_residual_exact_when_residuals_are_codewords(spark):
    """When every vector is centroid + one of the first-16 residual
    patterns, residual-ADC distances are EXACT squared L2 to the
    probe, so the top-k equals brute force over the probed clusters —
    plain-vector PQ with the same budget cannot say that."""
    import itertools

    from vectordb_migrator_spark.operators.similarity import (
        ivfpq_residual_topk,
    )

    # residual patterns: 8 distinct 4-d vectors, used in both clusters
    pats = [
        [float(a), float(b), 0.5, -0.25]
        for a, b in itertools.product((0.0, 1.0), (0.0, 2.0))
    ] + [
        [0.25, float(a), float(b), 1.5]
        for a, b in itertools.product((0.0, 3.0), (1.0, 0.0))
    ]
    cents = {0: [0.0, 0.0, 0.0, 0.0], 1: [100.0, 100.0, 100.0, 100.0]}
    rows = []
    vid = 0
    for c in (0, 1):  # ids 0..15 cover every pattern in both clusters
        for p in pats:
            rows.append(
                (vid, c, [cents[c][i] + p[i] for i in range(4)])
            )
            vid += 1
    # extra rows reuse patterns (still exactly representable)
    for c in (0, 1):
        for p in pats[:4]:
            rows.append(
                (vid, c, [cents[c][i] + p[i] + 0.0 for i in range(4)])
            )
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    probe = [0.4, 0.9, 0.6, 0.1]

    got = [
        (r["vec_id"], r["adc_dist"])
        for r in ivfpq_residual_topk(
            df, probe, cluster_col="label", m=2, k=5, nprobe=1
        ).collect()
    ]
    # brute force within the probed cluster (cluster 0 — nearest)
    def l2(v):
        return round(sum((a - b) ** 2 for a, b in zip(v, probe)), 6)

    want = sorted(
        ((l2(v), i) for i, c, v in rows if c == 0),
    )[:5]
    assert [(i, d) for d, i in want] == got


def test_pq_learned_codebooks_matches_numpy_lloyd(spark):
    """The distributed per-subspace Lloyd loop reproduces a NumPy
    replay (same seeds, same fixed iterations) and never increases
    in-sample quantization error versus the sampled seeds."""
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        pq_learned_codebooks,
        pq_sampled_codebooks,
    )

    rng = np.random.default_rng(3)
    X = np.round(rng.normal(0, 1, (120, 8)), 6)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    m, k, it = 2, 4, 3
    got = pq_learned_codebooks(df, m=m, k=k, n_iter=it)

    dsub = 8 // m
    seeds = pq_sampled_codebooks(df, m=m, k=k)

    def mse(cbs):
        tot = 0.0
        for s in range(m):
            sub = X[:, s * dsub:(s + 1) * dsub]
            d = ((sub[:, None, :] - np.array(cbs[s])[None]) ** 2).sum(-1)
            tot += d.min(1).mean()
        return tot

    # NumPy replay of the same fixed-iteration loop
    cbs = [np.array(cb, dtype=float) for cb in seeds]
    for _ in range(it):
        for s in range(m):
            sub = X[:, s * dsub:(s + 1) * dsub]
            d = ((sub[:, None, :] - cbs[s][None]) ** 2).sum(-1)
            j = d.argmin(1)
            for c in range(k):
                if (j == c).any():
                    cbs[s][c] = sub[j == c].mean(0)
    for s in range(m):
        assert np.allclose(np.array(got[s]), cbs[s], atol=1e-9)
    assert mse(got) <= mse(seeds) + 1e-12


def test_pq_learned_codebooks_fp_matches_exact_integer_replay(spark):
    """The engine-exact fixed-point Lloyd twin reproduces an exact
    integer Python replay bit-for-bit (same quantization, same
    first-lowest-j tie break, same half-away centroid average), and
    n_iter=0 returns exactly the fixed-pointed sampled seeds."""
    import math

    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        pq_learned_codebooks_fp,
        pq_sampled_codebooks,
    )

    rng = np.random.default_rng(11)
    X = np.round(rng.normal(0, 1, (120, 8)), 6)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    m, k, it, scale = 2, 4, 3, 10_000
    dsub = 8 // m

    def fp(x: float) -> int:
        return int(math.floor(abs(x) * scale + 0.5)) * (1 if x >= 0 else -1)

    IX = np.array([[fp(x) for x in row] for row in X], dtype=np.int64)
    seeds = pq_sampled_codebooks(df, m=m, k=k)
    cbs = [
        [[fp(x) for x in cw] for cw in cb] for cb in seeds
    ]
    assert pq_learned_codebooks_fp(df, m=m, k=k, n_iter=0) == cbs

    def rha(num: int, den: int) -> int:
        if num >= 0:
            return (2 * num + den) // (2 * den)
        return -((-2 * num + den) // (2 * den))

    for _ in range(it):
        new = [[list(cw) for cw in cb] for cb in cbs]
        for s in range(m):
            sub = IX[:, s * dsub:(s + 1) * dsub]
            d = ((sub[:, None, :] - np.array(cbs[s], dtype=np.int64)[None]) ** 2).sum(-1)
            j = d.argmin(1)  # argmin = first lowest index, like Spark
            for c in range(k):
                mask = j == c
                if mask.any():
                    col_sums = sub[mask].sum(0)
                    n = int(mask.sum())
                    new[s][c] = [rha(int(v), n) for v in col_sums]
        cbs = new

    assert pq_learned_codebooks_fp(df, m=m, k=k, n_iter=it) == cbs


def test_pq_anisotropic_report_matches_numpy(spark):
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        pq_anisotropic_report,
        pq_sampled_codebooks,
    )

    rng = np.random.default_rng(11)
    vecs = np.round(rng.standard_normal((40, 8)), 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cbs = pq_sampled_codebooks(df, m=2, k=4)
    r = pq_anisotropic_report(df, cbs, t=0.2).first()

    # NumPy replica: per-subspace argmin (tie-break smallest j), then
    # parallel/orthogonal decomposition of the residual
    cb = np.array(cbs)  # (m, k, dsub)
    tot_p, tot_t = [], []
    for x in vecs:
        rec = np.empty(8)
        for s in range(2):
            sub = x[s * 4 : (s + 1) * 4]
            dists = ((cb[s] - sub) ** 2).sum(axis=1)
            rec[s * 4 : (s + 1) * 4] = cb[s][int(np.argmin(dists))]
        res = rec - x
        xsq = float(x @ x)
        par = (float(res @ x) ** 2) / xsq if xsq > 0 else 0.0
        tot_p.append(par)
        tot_t.append(float(res @ res))
    mt, mp = np.mean(tot_t), np.mean(tot_p)
    assert abs(r["mse_total"] - mt) < 1e-4
    assert abs(r["mse_parallel"] - mp) < 1e-4
    assert abs(r["mse_orthogonal"] - (mt - mp)) < 1e-4
    # d=8 here: anisotropy factor is share * 8
    assert abs(r["anisotropy_factor"] - (mp / mt) * 8) < 1e-3
    # loss_at_t uses w=(d-1)t^2/(1-t^2) with d=8, t=0.2 -> 7*.04/.96
    w = 7 * 0.04 / 0.96
    assert abs(r["loss_at_t"] - (w * mp + (mt - mp))) < 1e-3
    # decomposition invariants
    assert 0.0 <= r["parallel_share"] <= 1.0
    assert r["mse_orthogonal"] >= 0


def test_soar_double_assignment_recovers_boundary_vector(spark):
    from vectordb_migrator_spark.operators.similarity import (
        soar_ivf_recall_report,
    )

    # two planted clusters in 2-D: A hugs (1, 0), B hugs (0, 1); the
    # probe points at A. Vector 99 sits at 47 degrees: its NEAREST
    # centroid is B (primary assignment), but it is close enough to
    # the probe to belong in the true top-5 — exactly the neighbor
    # single-assignment IVF at nprobe=1 loses and SOAR's secondary
    # assignment recovers.
    import math

    rows = []
    for i in range(20):  # cluster A, label 0
        a = 0.12 * (i % 5) / 5.0
        rows.append((i, [math.cos(a), math.sin(a)], 0))
    for i in range(20, 40):  # cluster B, label 1
        a = math.pi / 2 - 0.12 * (i % 5) / 5.0
        rows.append((i, [math.cos(a), math.sin(a)], 1))
    a47 = math.radians(47.0)
    rows.append((99, [math.cos(a47), math.sin(a47)], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r["mode"]: r
        for r in soar_ivf_recall_report(
            df, [1.0, 0.0], cluster_col="label", k=21
        ).collect()
    }
    # vector 99's primary centroid is B -> single scan = list A only
    assert got["single"]["n_scanned"] == 20
    # double assignment spills it (and every vector's 2nd-nearest is
    # the other centroid here) into list A
    assert got["double"]["n_scanned"] == 41
    # truth@21 contains all of A plus vector 99; single misses 99
    assert got["single"]["n_hits"] == 20
    assert got["double"]["n_hits"] == 21
    assert got["double"]["recall"] > got["single"]["recall"]
    assert got["double"]["recall"] == 1.0


def test_rvq_error_ladder_decreases_and_zeroes_codewords(spark):
    import numpy as np

    from vectordb_migrator_spark.operators.similarity import (
        rvq_error_report,
    )

    rng = np.random.RandomState(5)
    # 16 codeword seeds; 15 SHARED offsets seed the residual codebook
    # (rows 16..30); 200 corpus points = seed + one of those offsets,
    # so a correct stage 2 reconstructs them exactly
    seeds = [rng.randn(8) * 4 for _ in range(16)]
    offsets = [rng.randn(8) * 0.25 for _ in range(15)]
    rows = [(i, [float(x) for x in seeds[i]]) for i in range(16)]
    for j in range(15):
        rows.append(
            (16 + j, [float(x) for x in seeds[j] + offsets[j]])
        )
    for i in range(200):
        rows.append(
            (
                100 + i,
                [
                    float(x)
                    for x in seeds[i % 16] + offsets[i % 15]
                ],
            )
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["stage"]: r for r in rvq_error_report(df, k=16).collect()}
    assert got[1]["n"] == got[2]["n"] == 231
    # monotone by construction (zero codeword) and strictly better
    # here (the shared offsets are in the residual codebook)
    assert got[2]["mse_mean"] < got[1]["mse_mean"]
    assert got[2]["mse_max"] <= got[1]["mse_max"] + 1e-9
    # every corpus point's residual IS a codeword -> stage-2 ~ exact
    assert got[2]["mse_mean"] < 0.01
    # a corpus without ids 0..30 refuses loudly
    import pytest

    with pytest.raises(ValueError):
        rvq_error_report(
            spark.createDataFrame(
                [(50, [0.0] * 8)], "vec_id long, embedding array<float>"
            ),
            k=16,
        )


def test_mmr_rerank_guards_the_driver_collect(spark):
    import pytest

    from vectordb_migrator_spark.operators.ranking import mmr_rerank

    # mmr_rerank collects its input — a corpus-sized frame must raise
    # a clear ValueError, never attempt a driver-OOM collect
    big = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.rand(7).alias("score"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_candidates"):
        mmr_rerank(big, k=3, max_candidates=10)
    # explicit raise of the cap lets a genuinely large shortlist pass
    out = mmr_rerank(big, k=3, max_candidates=50).collect()
    assert len(out) == 3


def test_knn_graph_beam_recall_matches_python_replica(spark):
    import hashlib

    from vectordb_migrator_spark.operators.similarity import (
        knn_graph_beam_recall,
    )

    # 2-D planted points, ids 0..39; replicate the exact fixed-point
    # walk in pure Python and compare every reported row
    pts = [(i, [float((i * 13) % 40) / 7.0, float((i * 29) % 40) / 5.0])
           for i in range(40)]
    probe = [1.0, 2.0]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [
        tuple(r)
        for r in knn_graph_beam_recall(
            df, probe, k=5, degree=3, beam_width=4, hops=4,
            report_hops=(1, 4), n_entries=2, sample_size=16, seed=7,
        ).collect()
    ]

    def fx(v):
        return [
            int(x * 10000 + 0.5) if x >= 0 else -int(-x * 10000 + 0.5)
            for x in v
        ]

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    pfx = fx(probe)
    # float32 storage: replicate via Spark's cast by reading back doubles
    stored = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in df.collect()
    }
    samp = sorted(
        stored,
        key=lambda i: (hashlib.md5(f"{i}:kg:7".encode()).hexdigest(), i),
    )[:16]
    v = {i: fx(stored[i]) for i in samp}
    qd = {i: sqd(v[i], pfx) for i in samp}
    edges = {}
    for a in samp:
        nb = sorted((sqd(v[a], v[b]), b) for b in samp if b != a)
        edges[a] = [b for _, b in nb[:3]]
    entries = sorted(
        samp,
        key=lambda i: (hashlib.md5(f"{i}:kgentry:7".encode()).hexdigest(), i),
    )[:2]
    truth = set(sorted(samp, key=lambda i: (qd[i], i))[:5])
    beam, visited = set(entries), set(entries)
    expect = []
    for t in range(1, 5):
        exp = {b for a in beam for b in edges[a]}
        visited |= exp
        beam = set(sorted(beam | exp, key=lambda i: (qd[i], i))[:4])
        if t in (1, 4):
            res = set(sorted(beam, key=lambda i: (qd[i], i))[:5])
            hits = len(res & truth)
            expect.append(
                (16, 16 * 3, 2, 4, t, len(visited), hits,
                 round(hits / 5.0, 6))
            )
    assert got == expect


def test_knn_graph_beam_walks_a_planted_line(spark):
    from vectordb_migrator_spark.operators.similarity import (
        knn_graph_beam_recall,
    )

    # points on a line: the k-NN graph is a chain, so recall@k REQUIRES
    # walking — shallow walks miss, deep walks reach the probe's end
    pts = [(i, [float(i), 0.0]) for i in range(20)]
    probe = [19.0, 0.0]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = {
        r["hops"]: r
        for r in knn_graph_beam_recall(
            df, probe, k=3, degree=2, beam_width=3, hops=20,
            report_hops=(1, 20), n_entries=1, sample_size=20, seed=7,
        ).collect()
    }
    assert rows[1]["recall_at_k"] < 1.0  # can't cross the chain in 1 hop
    assert rows[20]["recall_at_k"] == 1.0  # full walk reaches the far end
    assert rows[20]["n_visited"] <= 20
    # visited grows monotonically with depth
    assert rows[1]["n_visited"] <= rows[20]["n_visited"]


def test_knn_graph_beam_recall_validates_params(spark):
    import pytest

    from vectordb_migrator_spark.operators.similarity import (
        knn_graph_beam_recall,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="hops"):
        knn_graph_beam_recall(df, [0.0, 0.0], hops=0)
    with pytest.raises(ValueError, match="report_hops"):
        knn_graph_beam_recall(df, [0.0, 0.0], hops=2, report_hops=(3,))


def test_knn_graph_components_detects_shattering(spark):
    from vectordb_migrator_spark.operators.similarity import (
        knn_graph_components,
    )

    # two well-separated tight clusters of 8: a degree-3 k-NN graph
    # cannot bridge them -> 2 components, reachable_frac = 0.5
    pts = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(8)] + [
        (100 + i, [50.0 + 0.01 * i, 50.0]) for i in range(8)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    r = knn_graph_components(
        df, [0.0, 0.0], degree=3, sample_size=16, seed=7
    ).first()
    assert r["n_nodes"] == 16 and r["n_edges"] == 16 * 3
    assert r["n_components"] == 2
    assert r["largest_comp"] == 8 and r["smallest_comp"] == 8
    assert r["reachable_frac"] == 0.5

    # a chain is connected at degree 2 -> single component
    line = [(i, [float(i), 0.0]) for i in range(12)]
    df2 = spark.createDataFrame(line, "vec_id long, embedding array<float>")
    r2 = knn_graph_components(
        df2, [0.0, 0.0], degree=2, sample_size=12, seed=7
    ).first()
    assert r2["n_components"] == 1 and r2["reachable_frac"] == 1.0


def test_graph_pq_route_exact_codewords_collapse_to_exact_route(spark):
    """Planted invariant for the DiskANN-style hybrid router: when
    every vector sits EXACTLY on a codeword (the codebook is the
    whole sample, so each subvector finds a zero-distance match),
    the per-node ADC estimate equals the exact probe distance, and
    the PQ-routed walk and the exact walk must produce IDENTICAL
    visited counts, hits, and recall."""
    from vectordb_migrator_spark.operators.similarity import (
        graph_pq_route_recall,
    )

    protos = [
        [float(a)] * 4 + [float(b)] * 4
        for a, b in ((0, 0), (3, 1), (7, 2), (2, 6))
    ]
    rows = [(i, protos[i % 4]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = graph_pq_route_recall(
        df, [1.0] * 8, k=4, degree=3, beam_width=5, hops=3,
        n_entries=2, sample_size=24, m=2, pq_k=24, seed=7,
    ).collect()
    assert [r["route"] for r in out] == ["exact", "pq_adc"]
    ex, pq = out
    for col in ("n_nodes", "n_edges", "n_visited", "n_hits",
                "recall_at_k"):
        assert ex[col] == pq[col], col
    assert ex["n_nodes"] == 24 and 0.0 <= ex["recall_at_k"] <= 1.0


def test_graph_pq_route_validates_params(spark):
    import pytest

    from vectordb_migrator_spark.operators.similarity import (
        graph_pq_route_recall,
    )

    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="hops"):
        graph_pq_route_recall(df, [0.0] * 8, hops=0)
    with pytest.raises(ValueError, match="divide"):
        graph_pq_route_recall(df, [0.0] * 7, m=2)
    with pytest.raises(ValueError, match="sample smaller"):
        graph_pq_route_recall(
            df, [0.0] * 8, sample_size=5, pq_k=16, m=2
        )


def test_ivf_fp_certificate_planted_clusters(spark):
    """Planted geometry: 4 tight clusters; ids 0..7 seed the fit, the
    probe sits in cluster 0, and nprobe=2 must scan a strict subset
    of the corpus while recalling the full exact top-k (the nearest
    points all live in the probed clusters)."""
    import pytest

    from vectordb_migrator_spark.operators.similarity import (
        ivf_fp_certificate,
    )

    centers = [
        [0.0] * 8,
        [10.0] + [0.0] * 7,
        [0.0, 10.0] + [0.0] * 6,
        [0.0, 0.0, 10.0] + [0.0] * 5,
    ]
    rows = []
    for i in range(48):
        c = centers[i % 4]
        rows.append((i, [v + (i % 5) * 0.01 for v in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_fp_certificate(
        df, [0.01] * 8, k_clusters=8, nprobe=2, topk=6, n_iter=3
    ).collect()
    assert [r["rank"] for r in out] == list(range(1, 7))
    assert all(r["hit"] for r in out)  # probed clusters hold the truth
    assert 0 < out[0]["n_candidates"] < 48
    assert out[0]["d2"] <= out[-1]["d2"]

    with pytest.raises(ValueError, match="nprobe"):
        ivf_fp_certificate(df, [0.0] * 8, nprobe=0)


def test_pq_fp_kernels_bit_identical(spark, embeddings):
    """r12: both Arrow kernels in the fixed-point PQ path (Lloyd
    assignment partials, MSE readout) are bit-identical to the
    interpreted Catalyst folds they replace, and a precomputed
    init_codebooks reproduces the internal sampling exactly."""
    from vectordb_migrator_spark.operators.similarity import (
        pq_learned_codebooks_fp,
        pq_mse_by_subspace_fp,
        pq_sampled_codebooks,
    )

    e = embeddings.limit(300)
    init = pq_sampled_codebooks(e, m=4, k=8)
    k_fit = pq_learned_codebooks_fp(e, m=4, k=8, n_iter=2)
    with kernels_off():
        h_fit = pq_learned_codebooks_fp(e, m=4, k=8, n_iter=2)
    i_fit = pq_learned_codebooks_fp(
        e, m=4, k=8, n_iter=2, init_codebooks=init
    )
    assert k_fit == h_fit == i_fit

    variants = [
        (
            "sampled",
            pq_learned_codebooks_fp(
                e, m=4, k=8, n_iter=0, init_codebooks=init
            ),
        ),
        ("learned", k_fit),
    ]
    k_mse = [
        tuple(r)
        for r in pq_mse_by_subspace_fp(e, variants, m=4, dsub=16)
        .collect()
    ]
    with kernels_off():
        h_mse = [
            tuple(r)
            for r in pq_mse_by_subspace_fp(
                e, variants, m=4, dsub=16
            ).collect()
        ]
    assert k_mse == h_mse and len(k_mse) == 8
    by = {(v, s): mm for v, s, _, mm in k_mse}
    for s in range(4):  # Lloyd never increases in-sample error
        assert by[("learned", s)] <= by[("sampled", s)]


def test_graph_certificates_kernel_matches_declarative(spark):
    """r13 opt gate: the single-row kernel path must reproduce the declarative per-hop plan bit-for-bit for all three
    graph certificates — same rows, same order."""
    from vectordb_migrator_spark.operators.similarity import (
        graph_pq_route_recall,
        knn_graph_beam_recall,
        knn_graph_components,
    )

    pts = [
        (i, [float((i * 17) % 23) / 3.0 + (j % 5) for j in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    probe = [1.5, 2.0, 0.5, 3.0, 1.0, 2.5, 0.0, 4.0]

    for fn, kw in [
        (
            knn_graph_beam_recall,
            dict(k=5, degree=3, beam_width=4, hops=4,
                 report_hops=(0, 2, 4), n_entries=2, sample_size=24),
        ),
        (
            graph_pq_route_recall,
            dict(k=5, degree=3, beam_width=4, hops=3, n_entries=2,
                 sample_size=24, m=4, pq_k=8),
        ),
        (knn_graph_components, dict(degree=3, sample_size=24)),
    ]:
        new = [tuple(r) for r in fn(df, probe, **kw).collect()]
        with kernels_off():
            old = [tuple(r) for r in fn(df, probe, **kw).collect()]
        assert new == old, fn.__name__
        assert new, fn.__name__


def test_kg_python_graph_memory_is_linear_in_sample():
    """The graph-certificate kernels' exact k-NN build holds O(n·d)
    memory in one Python worker, not an n×n×d difference tensor (271 MB
    at n=512, d=64; ~4 GB at a sample of 2048)."""
    import tracemalloc

    from vectordb_migrator_spark.operators.similarity import _kg_python_graph

    rng = np.random.default_rng(5)
    xs = [list(r) for r in rng.integers(-30_000, 30_000, size=(512, 64))]
    tracemalloc.start()
    try:
        adj = _kg_python_graph(list(range(512)), xs, degree=6)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(adj) == 512 and all(len(a) == 6 for a in adj)
    assert peak < 32 * 2**20, peak
