"""X4 MLlib BRP-LSH: returned pairs must be exactly-verified true
near-pairs (no false positives vs the exact L2 distance)."""

from __future__ import annotations

import math

from vectordb_migrator_spark.suite import QUERIES

from tests.conftest import SF_DIR, kernels_off


def test_brp_pairs_are_true_near_pairs(spark, embeddings):
    out = QUERIES["x4_brp_approx_join"](spark, SF_DIR).collect()
    assert out, "expected some near pairs at the test threshold"
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in embeddings.limit(500).collect()
    }
    for r in out:
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        exact = math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
        assert exact <= 1.2 + 1e-6
        assert abs(exact - r["dist"]) <= 1e-4


def test_brp_md5_join_kernel_matches_hof(spark, embeddings):
    """r12: the Arrow int64-matmul sign pass is BIT-IDENTICAL to the
    interpreted Catalyst fold (integer adds are exact + associative)."""
    from vectordb_migrator_spark.operators.similarity import brp_md5_join

    e = embeddings.limit(300)
    k = [tuple(r) for r in brp_md5_join(e).collect()]
    with kernels_off():
        h = [tuple(r) for r in brp_md5_join(e).collect()]
    assert k == h and k


def test_brp_md5_join_exactness_and_recall(spark, embeddings):
    """r12 deterministic BRP twin: (a) NO false positives — every
    emitted pair is a true quantized-grid near pair; (b) every emitted
    pair that shares a band is found (the subset contract: emitted =
    banded candidates ∩ exact near pairs); (c) nontrivial recall of
    the brute-force truth at these band parameters."""
    from vectordb_migrator_spark.operators.similarity import brp_md5_join

    rows = embeddings.limit(250).collect()
    out = brp_md5_join(spark.createDataFrame(rows)).collect()
    assert out, "expected some near pairs"

    def quant(v):
        return [
            math.floor(x * 10000 + 0.5)
            if x >= 0
            else -math.floor(-x * 10000 + 0.5)
            for x in v
        ]

    q = {r["vec_id"]: quant(r["embedding"]) for r in rows}
    # exact truth on the same quantized grid
    ids = sorted(q)
    true_pairs = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d2 = sum((x - y) ** 2 for x, y in zip(q[a], q[b]))
            if d2 <= 144_000_000:
                true_pairs.add((a, b))
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert got <= true_pairs  # no false positives, ever
    assert len(got) >= max(1, len(true_pairs) // 50)  # LSH recall floor
    for r in out:
        d2 = sum(
            (x - y) ** 2 for x, y in zip(q[r["id_a"]], q[r["id_b"]])
        )
        assert abs(r["dist"] - round(math.sqrt(d2) / 10000.0, 6)) < 1e-9
        assert 1 <= r["n_bands"] <= 8


def test_brp_md5_join_max_bucket_star_cap(spark):
    """A degenerate corpus (every row identical direction) would
    square in one bucket; max_bucket keeps only anchor pairs there,
    and results stay a subset of the uncapped output."""
    from vectordb_migrator_spark.operators.similarity import brp_md5_join

    rows = [(i, [0.1] * 64) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = {(r["id_a"], r["id_b"]) for r in brp_md5_join(df).collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in brp_md5_join(df, max_bucket=5).collect()
    }
    assert capped <= full
    assert all(a == 0 for a, _ in capped)  # anchor = min id
    assert len(capped) == 39 and len(full) == 40 * 39 // 2
