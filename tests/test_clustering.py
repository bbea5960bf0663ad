"""k-means tests: differential vs a NumPy Lloyd reference with the
same init/tie rules, plus convergence and determinism properties."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import kernels_off


def _numpy_lloyd(X, k, max_iter=20, tol=1e-6):
    """Single-node reference with IDENTICAL semantics: seeds = first k
    rows (id order), argmin ties -> lower cid, empty cluster keeps its
    centroid, stop on max squared shift < tol."""
    C = X[:k].astype(np.float64).copy()
    for it in range(1, max_iter + 1):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin takes the first (lowest) index
        newC = C.copy()
        for c in range(k):
            members = X[assign == c]
            if len(members):
                newC[c] = members.mean(axis=0)
        shift = ((newC - C) ** 2).sum(axis=1).max()
        C = newC
        if shift < tol:
            break
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1), C, it


def test_kmeans_well_separated(spark):
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    pts = (
        [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)]
        + [(10 + i, [10.0 + 0.01 * i, 10.0]) for i in range(5)]
    )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    assigned, centroids, n_iters = kmeans_fit(df, k=2, max_iter=10)
    out = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert {out[i] for i in range(5)} == {0}
    assert {out[10 + i] for i in range(5)} == {1}
    assert n_iters <= 10
    assert abs(centroids[1][1] - 10.0) < 1e-9


def test_kmeans_matches_numpy_reference(spark, embeddings):
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    rows = (
        embeddings.orderBy("vec_id").limit(120)
        .select("vec_id", "embedding")
        .collect()
    )
    X = np.array([[float(x) for x in r["embedding"]] for r in rows])
    ref_assign, ref_C, _ = _numpy_lloyd(X, k=4)

    df = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows],
        "vec_id long, embedding array<float>",
    )
    assigned, C, _ = kmeans_fit(df, k=4)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    ids = [r["vec_id"] for r in rows]
    agree = sum(got[i] == ref_assign[j] for j, i in enumerate(ids))
    # float reduction order can flip knife-edge ties; demand near-total
    # agreement, and centroid agreement to float tolerance
    assert agree >= len(ids) - 1
    assert np.abs(np.array(C) - ref_C).max() < 1e-6


def test_kmeans_k_too_large_raises(spark):
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    df = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="fewer than k"):
        kmeans_fit(df, k=5)


def test_kmeans_ivf_recall_vs_brute_force(spark, embeddings):
    """IVF over k-means clusters must put most of the true top-10 in
    its candidate set (nprobe=2 of 8 on this corpus)."""
    from vectordb_migrator_spark.operators.clustering import kmeans_fit
    from vectordb_migrator_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    probe = [
        float(x)
        for x in embeddings.filter("vec_id = 0").first()["embedding"]
    ]
    exact = {r["vec_id"] for r in cosine_topk(embeddings, probe, k=10).collect()}
    assigned, _, _ = kmeans_fit(embeddings, k=8, max_iter=10)
    approx = {
        r["vec_id"]
        for r in ivf_topk(assigned, probe, cluster_col="cluster", k=10).collect()
    }
    assert len(exact & approx) >= 5  # recall ≥ 0.5 on this corpus
    assert 0 in approx  # the probe's own vector must be found


def test_kmeans_fit_loop_reads_persisted_projection(spark, monkeypatch):
    """Every Lloyd-iteration assignment must scan the persisted
    (id, vector) projection — not re-read the source — and the
    RETURNED assignment must be built on the original (un-cached)
    frame. Also asserts the cache is released afterwards."""
    import vectordb_migrator_spark.operators.clustering as clustering

    loop_levels = []
    final_levels = []
    real_loop = clustering._lloyd_partials_kernel
    real_assign = clustering.assign_clusters

    def spy_loop(df, centroids, **kw):
        loop_levels.append(df.storageLevel.useMemory or df.storageLevel.useDisk)
        return real_loop(df, centroids, **kw)

    def spy_final(df, centroids, **kw):
        final_levels.append(df.storageLevel.useMemory or df.storageLevel.useDisk)
        return real_assign(df, centroids, **kw)

    monkeypatch.setattr(clustering, "_lloyd_partials_kernel", spy_loop)
    monkeypatch.setattr(clustering, "assign_clusters", spy_final)
    pts = [(i, [float(i % 7), float(i % 3)]) for i in range(60)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    assigned, _, n_iters = kmeans_fit_ref()(df, k=3, max_iter=5)
    # one broadcast-assignment per iteration over the persisted frame +
    # one final literal assignment over the original input
    assert len(loop_levels) == n_iters
    assert all(loop_levels), "fit-loop input was not persisted"
    assert final_levels == [False], "final assignment must use the raw input"
    # plan proof: an assignment over the persisted frame scans the cache
    assert assigned.storageLevel.useMemory is False


def kmeans_fit_ref():
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    return kmeans_fit


def test_kmeans_fit_persisted_plan_has_inmemory_scan(spark):
    """Direct plan check: iteration ≥ 2's assignment over the persisted
    projection compiles to an InMemoryTableScan."""
    from pyspark import StorageLevel
    from vectordb_migrator_spark.operators.clustering import assign_clusters

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df.count()  # materialize the cache
        plan = (
            assign_clusters(df, [[0.0, 0.0], [9.0, 0.0]])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


def test_kmeans_sample_fit_assigns_full_corpus(spark, embeddings):
    """sample_fraction fits centroids on a hash-sample but the returned
    assignment covers EVERY input row; same-data reruns are identical."""
    n = embeddings.count()
    a1, c1, _ = kmeans_fit_ref()(embeddings, k=4, sample_fraction=0.5)
    a2, c2, _ = kmeans_fit_ref()(embeddings, k=4, sample_fraction=0.5)
    assert a1.count() == n
    assert c1 == c2  # deterministic hash sample, not rand()
    got1 = sorted((r["vec_id"], r["cluster"]) for r in a1.collect())
    got2 = sorted((r["vec_id"], r["cluster"]) for r in a2.collect())
    assert got1 == got2


def test_kmeans_sample_fraction_validation(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="sample_fraction"):
        kmeans_fit_ref()(df, k=1, sample_fraction=1.5)


def test_semdedup_fitted_matches_numpy_replica(spark, embeddings):
    """Round-5 differential for the production kmeans_fit → semantic_dedup
    composition (suite x2_semdedup_fitted): a NumPy Lloyd + SemDeDup
    replica with identical semantics (seed/tie/empty-cluster rules,
    smaller-id direct-pair survivor, min-id star-cap on oversized
    clusters) must produce the same survivor set and clusters."""
    from vectordb_migrator_spark.operators.clustering import kmeans_fit
    from vectordb_migrator_spark.operators.dedup import semantic_dedup

    rows = embeddings.orderBy("vec_id").select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([[float(x) for x in r["embedding"]] for r in rows])
    k, threshold, cap = 4, 0.8, 40

    # --- NumPy replica ---
    _, C, _ = _numpy_lloyd(X, k=k, max_iter=10)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    nv = X / np.linalg.norm(X, axis=1, keepdims=True)
    losers = set()
    for c in range(k):
        idx = [j for j in range(len(ids)) if assign[j] == c]
        anchor = min(idx, key=lambda j: ids[j]) if idx else None
        for ja in idx:
            for jb in idx:
                if ids[ja] >= ids[jb]:
                    continue
                if len(idx) > cap and ja != anchor:
                    continue  # star-capped: only anchor pairs survive
                if round(float(nv[ja] @ nv[jb]), 6) >= threshold:
                    losers.add(ids[jb])
    ref = {ids[j]: int(assign[j]) for j in range(len(ids)) if ids[j] not in losers}

    # --- Spark composition ---
    df = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in rows],
        "vec_id long, embedding array<float>",
    )
    _, cents, _ = kmeans_fit(df, k=k, max_iter=10)
    got = {
        r["vec_id"]: r["cluster"]
        for r in semantic_dedup(
            df, cents, threshold=threshold, max_bucket=cap
        ).collect()
    }
    assert got == ref


def test_silhouette_report_separated_vs_overlapping(spark):
    """Well-separated clusters score near 1; a point sitting on
    another cluster's centroid scores negative; single-cluster input
    yields NULL silhouette (no other centroid)."""
    from vectordb_migrator_spark.operators.clustering import (
        silhouette_report,
    )

    tight = [
        (1, "a", [0.0, 0.0]), (2, "a", [0.2, 0.0]),
        (3, "b", [10.0, 0.0]), (4, "b", [10.2, 0.0]),
    ]
    df = spark.createDataFrame(
        tight, "vec_id long, cluster string, embedding array<double>"
    )
    rep = {r["cluster"]: r for r in silhouette_report(
        df, cluster_col="cluster"
    ).collect()}
    assert rep["a"]["n"] == 2 and rep["a"]["silhouette"] > 0.95
    assert rep["b"]["silhouette"] > 0.95

    # plant a misassigned point directly on b's centroid region
    bad = tight + [(5, "a", [10.1, 0.0])]
    df2 = spark.createDataFrame(
        bad, "vec_id long, cluster string, embedding array<double>"
    )
    rows = silhouette_report(df2, cluster_col="cluster").collect()
    a_row = [r for r in rows if r["cluster"] == "a"][0]
    assert a_row["silhouette"] < 0.7  # dragged down by the stray point

    solo = spark.createDataFrame(
        [(1, "x", [1.0, 1.0])],
        "vec_id long, cluster string, embedding array<double>",
    )
    r = silhouette_report(solo, cluster_col="cluster").first()
    assert r["silhouette"] is None and r["mean_nearest"] is None


def test_kcenter_coreset_matches_python_replica(spark):
    import hashlib
    import math

    from vectordb_migrator_spark.operators.clustering import kcenter_coreset

    # three tight planted clusters + one far outlier, 2-D
    pts = (
        [(i, [0.0 + 0.001 * i, 0.0]) for i in range(10)]
        + [(100 + i, [5.0, 5.0 + 0.001 * i]) for i in range(10)]
        + [(200 + i, [-4.0 + 0.001 * i, 6.0]) for i in range(10)]
        + [(999, [50.0, -50.0])]
    )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = kcenter_coreset(df, k=4, sample_size=31, seed=7).collect()

    # pure-Python replica of the exact greedy (fixed-point int dists)
    def fx(v):
        return [
            int(math.floor(x * 10000 + 0.5))
            if x >= 0
            else -int(math.floor(-x * 10000 + 0.5))
            for x in v
        ]

    ranked = sorted(
        pts, key=lambda p: (hashlib.md5(f"{p[0]}:kc:7".encode()).hexdigest(), p[0])
    )[:31]
    ranked = sorted(ranked, key=lambda p: p[0])
    ids = [p[0] for p in ranked]
    vs = [fx(p[1]) for p in ranked]

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    dist = [sqd(v, vs[0]) for v in vs]
    sel, rad = [0], [max(dist)]
    for _ in range(3):
        md = max(dist)
        bi = dist.index(md)
        sel.append(bi)
        dist = [min(d, sqd(v, vs[bi])) for d, v in zip(dist, vs)]
        rad.append(max(dist))
    expect = [
        (r + 1, ids[s], round(math.sqrt(rv) / 10000.0, 6))
        for r, (s, rv) in enumerate(zip(sel, rad))
    ]
    assert [(g["center_rank"], g["vec_id"], g["radius"]) for g in got] == expect

    # geometry: the 4 centers cover all 4 planted groups, and the
    # radius collapses once every group has a center
    groups = {i // 100 for _, i, _ in [(0, g["vec_id"], 0) for g in got]}
    assert len({g["vec_id"] // 100 for g in got}) == 4
    assert got[-1]["radius"] < 0.1
    assert got[0]["radius"] > 10


def test_kcenter_coreset_stops_early_on_duplicate_points(spark):
    from vectordb_migrator_spark.operators.clustering import kcenter_coreset

    # only 2 distinct positions but k=5: the greedy loop must stop
    # once the covering radius hits 0 instead of re-picking index 0
    # as a silent duplicate (r9 ADVICE)
    pts = [(i, [0.0, 0.0]) for i in range(4)] + [
        (10 + i, [3.0, 4.0]) for i in range(4)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    rows = kcenter_coreset(df, k=5, sample_size=8, seed=7).collect()
    assert len(rows) == 2  # min(k, distinct positions)
    assert rows[-1]["radius"] == 0.0
    assert len({r["vec_id"] for r in rows}) == len(rows)

    # fully degenerate: one distinct position -> exactly one center
    solo = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    rows = kcenter_coreset(solo, k=3, sample_size=6, seed=7).collect()
    assert len(rows) == 1 and rows[0]["radius"] == 0.0


def test_facility_location_matches_python_replica(spark):
    import hashlib

    from vectordb_migrator_spark.operators.clustering import (
        facility_location_select,
    )

    # two dense modes + outliers: facility location must spend early
    # picks on the modes (coverage), unlike k-center's outlier-first
    pts = (
        [(i, [1.0 + 0.001 * i, 0.0]) for i in range(12)]
        + [(100 + i, [0.0, 1.0 + 0.001 * i]) for i in range(12)]
        + [(999, [-5.0, -5.0])]  # big norm but NEGATIVE direction:
        # 0-floored coverage ignores it, so modes win the early picks
    )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [
        tuple(r)
        for r in facility_location_select(
            df, k=4, sample_size=25, seed=7
        ).collect()
    ]

    def fx(v):
        import math

        nrm = math.sqrt(sum(x * x for x in v))
        v = [x / nrm for x in v] if nrm else list(v)
        return [
            int(math.floor(x * 10000 + 0.5))
            if x >= 0
            else -int(math.floor(-x * 10000 + 0.5))
            for x in v
        ]

    samp = sorted(
        pts, key=lambda p: (hashlib.md5(f"{p[0]}:fl:7".encode()).hexdigest(), p[0])
    )[:25]
    samp = sorted(samp, key=lambda p: p[0])
    ids = [p[0] for p in samp]
    vs = [fx(p[1]) for p in samp]
    n = len(ids)

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    sims = [[dot(vs[i], vs[j]) for j in range(n)] for i in range(n)]
    sel, gains, cov = [], [], [0] * n
    for _ in range(4):
        best_g, best_i = -1, 0
        for c in range(n):
            if c in sel:
                continue
            g = sum(max(0, sims[j][c] - cov[j]) for j in range(n))
            if g > best_g:
                best_g, best_i = g, c
        sel.append(best_i)
        gains.append(best_g)
        cov = [max(cov[j], sims[j][best_i], 0) for j in range(n)]
    expect = [
        (r + 1, ids[s], g, sum(gains[: r + 1]))
        for r, (s, g) in enumerate(zip(sel, gains))
    ]
    assert got == expect
    # submodularity: marginal gains never increase
    gs = [g for _, _, g, _ in got]
    assert all(gs[i] >= gs[i + 1] for i in range(len(gs) - 1))
    # coverage behavior: both planted modes are hit within the first
    # two picks, and the outlier is NOT the first pick
    first_two = {got[0][1] // 100, got[1][1] // 100}
    assert first_two == {0, 1}
    assert got[0][1] != 999


def test_kmeans_fit_kernel_matches_catalyst_path(spark):
    """r12 opt gate: the Arrow-kernel Lloyd loop must be BIT-identical
    to the Catalyst path (forced by ``kernels_off``) — same centroids
    (exact float equality), same iteration count, same assignments.

    The input is coalesced to ONE partition so both paths build exactly
    one partial per cluster and the cross-partition merge order (which
    Spark does not pin) cannot make exact float equality flake
    (r12 ADVICE); the within-partition trajectory is the bit-identity
    claim under test."""
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    pts = [
        (i, [float((i * 7919) % 101) / 9.7, float((i * 104729) % 89) / 3.1,
             float(i % 13) - 6.0])
        for i in range(500)
    ]
    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<float>"
    ).coalesce(1)
    a_new, c_new, n_new = kmeans_fit(df, k=5, max_iter=7)
    with kernels_off():
        a_old, c_old, n_old = kmeans_fit(df, k=5, max_iter=7)
    assert n_new == n_old
    assert c_new == c_old  # exact float equality, every coordinate
    rows_new = sorted(map(tuple, a_new.select("vec_id", "cluster").collect()))
    rows_old = sorted(map(tuple, a_old.select("vec_id", "cluster").collect()))
    assert rows_new == rows_old


def test_kmeans_fit_empty_cluster_keeps_previous_centroid(spark):
    """r12 VERDICT must-fix: two identical seed vectors make one
    cluster empty on the very first assignment (argmin ties break to
    the lower cluster id). The kernel path used to emit a 0/0 partial
    for the empty cluster → NULL mean → float(None) TypeError (or
    DIVIDE_BY_ZERO under ANSI); both paths must instead keep the
    previous centroid and agree bit-for-bit."""
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    pts = (
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [10.0, 10.0])]
        + [(3 + i, [0.1 * (i % 3), 0.1 * (i % 5)]) for i in range(9)]
        + [(12 + i, [10.0 + 0.1 * (i % 3), 10.0 - 0.1 * (i % 4)]) for i in range(9)]
    )
    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<double>"
    ).coalesce(1)
    # seeds = vectors of ids 0,1,2 → centroid 1 duplicates centroid 0,
    # so cluster 1 receives no points in iteration 1 (tie → cluster 0)
    a_new, c_new, n_new = kmeans_fit(df, k=3, max_iter=5)
    with kernels_off():
        a_old, c_old, n_old = kmeans_fit(df, k=3, max_iter=5)
    assert n_new == n_old
    assert c_new == c_old
    rows_new = sorted(map(tuple, a_new.select("vec_id", "cluster").collect()))
    rows_old = sorted(map(tuple, a_old.select("vec_id", "cluster").collect()))
    assert rows_new == rows_old
    # the emptied cluster's centroid must be a real (finite) vector
    assert all(x == x and abs(x) < 1e9 for c in c_new for x in c)
