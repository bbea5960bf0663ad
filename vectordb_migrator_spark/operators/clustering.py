"""Distributed k-means (Lloyd's algorithm) — the quantizer behind a
real IVF index (similarity.ivf_topk takes any cluster assignment; this
produces one from the data instead of borrowing a label column).

Scale design per iteration:
- centroids live on the DRIVER (k × dim floats — kilobytes) and enter
  the plan as a literal, so assignment is a narrow map over the corpus
  with NO join and no shuffle of vectors;
- the update step reuses :func:`ivf_build_centroids` (posexplode →
  per-(cluster, pos) mean): the only shuffle carries (cluster, pos,
  val) triples, never whole vectors;
- each round ends in a k-row collect (the same driver-sized reduce
  MLlib's KMeans performs) — corpus rows never reach the driver.

Determinism: seeds are the vectors of the k smallest ids, ties in the
assignment argmin break toward the lower cluster id, and iteration
stops on centroid shift < tol or max_iter. Same data → same clusters,
every run, every partitioning.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectordb_migrator_spark.operators import util
from vectordb_migrator_spark.operators.similarity import ivf_build_centroids


def _sq_dist(vec: Column, center: list[float]) -> Column:
    """Squared L2 distance to a plan-time constant center — one
    zip_with + sum fold in codegen."""
    from vectordb_migrator_spark.operators.similarity import probe_literal

    return F.aggregate(
        F.zip_with(vec, probe_literal(center), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: per row, argmin over k plan-time
    constant centers (array_min over (dist, cid) structs — struct
    ordering breaks distance ties toward the lower cluster id). The
    centers go in as ONE array<array<double>> literal folded by a
    single indexed transform — k× cheaper to construct and compile
    than k unrolled folds, identical values (see
    ``similarity.codebook_literal``)."""
    from vectordb_migrator_spark.operators.similarity import codebook_literal

    vec = F.col(vec_col).cast("array<double>")
    best = F.array_min(
        F.transform(
            codebook_literal(centroids),
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ).alias("dist"),
                i.alias("cid"),
            ),
        )
    )
    return df.withColumn("cluster", best.getField("cid"))


def _assign_via_broadcast(
    fit_df: DataFrame, centroids: list[list[float]], *, vec_col: str
) -> DataFrame:
    """Loop-iteration assignment with centroids injected as DATA (a
    one-row broadcast cross join), not literals. The generated code is
    therefore identical every Lloyd iteration — Spark's codegen cache
    reuses the compiled class instead of paying a Janino compile of the
    k×dim literal tree per round (the dominant per-iteration cost once
    the corpus is persisted). Same argmin/tie-break semantics as
    :func:`assign_clusters`; the k×dim floats ride the broadcast, rows
    never shuffle."""
    spark = fit_df.sparkSession
    cents_df = spark.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        "__cents array<array<double>>",
    )
    vec = F.col(vec_col)
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ).alias("dist"),
                i.alias("cid"),
            ),
        )
    )
    return (
        fit_df.crossJoin(F.broadcast(cents_df))
        .withColumn("cluster", best.getField("cid"))
        .drop("__cents")
    )


def _lloyd_partials_kernel(
    fit_df: DataFrame, centroids: list[list[float]], *, vec_col: str
) -> DataFrame:
    """One Lloyd iteration's sufficient statistics as an Arrow kernel
    (r12, guide §4.2): per task, assign every row to its nearest
    centroid and accumulate per-(cluster, pos) float sums + counts,
    emitting k×dim partial rows instead of posexploding N×dim value
    rows through an interpreted-HOF assignment.

    BIT-IDENTICAL to the Catalyst path it replaces, by construction:

    - distances accumulate per-DIMENSION in element order
      (``acc += (x_d − c_d)²`` sequentially), reproducing the
      ``aggregate(zip_with(...))`` left fold's IEEE trajectory;
    - argmin takes the FIRST minimal index (``np.argmin``), the
      ``array_min(struct(dist, cid))`` tie rule;
    - per-(cluster, pos) sums accumulate in ROW order via
      ``np.add.at`` (unbuffered, sequential — verified order-exact vs
      a Python left fold), matching the row-order partial an
      ``avg`` aggregate builds per input partition; one partial per
      task, merged by the same downstream HashAggregate.
    """
    cents = [[float(x) for x in c] for c in centroids]
    k = len(cents)

    def gen(it):
        import numpy as np
        import pandas as pd

        c = [np.asarray(cw, dtype=np.float64) for cw in cents]
        acc = None
        cnt = np.zeros(k, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if acc is None:
                acc = np.zeros((k, x.shape[1]), dtype=np.float64)
            dmat = np.empty((len(x), k), dtype=np.float64)
            for j in range(k):
                dj = np.zeros(len(x), dtype=np.float64)
                for t in range(x.shape[1]):
                    diff = x[:, t] - c[j][t]
                    dj += diff * diff
                dmat[:, j] = dj
            jj = dmat.argmin(axis=1)
            np.add.at(acc, jj, x)
            np.add.at(cnt, jj, 1)
        if acc is not None:
            kk, dd = acc.shape
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(np.arange(kk, dtype=np.int32), dd),
                    "pos": np.tile(np.arange(dd, dtype=np.int32), kk),
                    "psum": acc.ravel(),
                    "n": np.repeat(cnt, dd),
                }
            )

    return fit_df.select(vec_col).mapInPandas(
        gen, schema="cluster int, pos int, psum double, n long"
    )


def _lloyd_all_iters_kernel(
    fit_df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str,
    max_iter: int,
    tol: float,
) -> tuple[list[list[float]], int]:
    """Run the ENTIRE Lloyd loop inside one mapInPandas task and
    return ``(centroids, n_iters)`` — the r13 coordination-diet twin
    of :func:`_lloyd_partials_kernel`, applicable ONLY when the
    persisted fit frame is a single partition (the caller guards).

    Bit-identical to the per-iteration path by construction: with one
    input partition the distributed iteration's ``sum(psum)/sum(cnt)``
    merges exactly one partial, so every float the per-iteration path
    produces is the single task's own ``np.add.at`` accumulation — the
    in-task loop below runs the SAME batch-order accumulation, the
    same ``s/cnt`` IEEE division, the same previous-centroid fallback,
    and the same Python-float shift/tol trajectory as the driver loop.
    What changes is coordination: one scheduled job instead of
    ``n_iters`` job+collect round trips (measured ~0.25 s of pure
    scheduling per iteration at sf0.1)."""
    cents0 = [[float(x) for x in c] for c in centroids]
    k = len(cents0)
    mi, tl = int(max_iter), float(tol)

    def gen(it):
        import numpy as np
        import pandas as pd

        # materialize the (single) partition's batches once; the
        # caller guards that this is one comfortably-task-sized
        # partition. Keeping the batch granularity preserves the
        # per-batch np.add.at accumulation order of the per-iteration
        # kernel exactly.
        mats = [
            np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            for pdf in it
            if len(pdf)
        ]
        cents = [list(c) for c in cents0]
        n_iters = 0
        for _ in range(mi):
            n_iters += 1
            c = [np.asarray(cw, dtype=np.float64) for cw in cents]
            acc = None
            cnt = np.zeros(k, dtype=np.int64)
            for x in mats:
                if acc is None:
                    acc = np.zeros((k, x.shape[1]), dtype=np.float64)
                dmat = np.empty((len(x), k), dtype=np.float64)
                for j in range(k):
                    dj = np.zeros(len(x), dtype=np.float64)
                    for t in range(x.shape[1]):
                        diff = x[:, t] - c[j][t]
                        dj += diff * diff
                    dmat[:, j] = dj
                jj = dmat.argmin(axis=1)
                np.add.at(acc, jj, x)
                np.add.at(cnt, jj, 1)
            by_cid: dict[int, list[float]] = {}
            if acc is not None:
                for ci in range(k):
                    if cnt[ci] > 0:
                        by_cid[ci] = [
                            float(acc[ci, d] / float(cnt[ci]))
                            for d in range(acc.shape[1])
                        ]
            new_cents = [by_cid.get(i, cents[i]) for i in range(k)]
            shift = max(
                sum((a - b) * (a - b) for a, b in zip(old, new))
                for old, new in zip(cents, new_cents)
            )
            cents = new_cents
            if shift < tl:
                break
        yield pd.DataFrame(
            {
                "cluster": list(range(k)),
                "centroid": [cents[i] for i in range(k)],
                "n_iters": [n_iters] * k,
            }
        )

    rows = (
        fit_df.select(vec_col)
        .mapInPandas(
            gen, schema="cluster int, centroid array<double>, n_iters int"
        )
        .collect()
    )
    by_cid = {int(r["cluster"]): [float(x) for x in r["centroid"]] for r in rows}
    return [by_cid[i] for i in range(k)], int(rows[0]["n_iters"])


def kmeans_fit(
    df: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    tol: float = 1e-6,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]], int]:
    """Lloyd's iterations until centroid shift < ``tol`` (max squared
    movement over all centroids) or ``max_iter``.

    Returns ``(assignments, centroids, n_iters)`` where assignments is
    the input frame plus a ``cluster`` column (lazy — re-derived from
    the final centroids, so downstream consumers get one narrow map,
    not a cached intermediate).

    Scale: the fit loop runs over a PERSISTED two-column projection
    ``(id, vector)`` — the source is scanned once, then every Lloyd
    iteration reads the in-memory (spill-to-disk) copy instead of
    re-reading 100 TB of parquet ``max_iter`` times. The full-width
    input frame is never cached; only the final assignment touches it,
    exactly once.

    Each iteration defaults to ONE Arrow-kernel pass
    (:func:`_lloyd_partials_kernel` — assignment + per-(cluster, pos)
    partial sums fused, k×dim rows per task) instead of an
    interpreted-HOF assignment feeding a posexplode of N×dim value
    rows; the kernel's float trajectory is bit-identical by
    construction (per-dimension/row-order sequential accumulation,
    first-index argmin — A/B-asserted in tests); the pure-Catalyst
    path is its twin (:func:`~.util.kernel_ok`).

    ``sample_fraction`` fits the centroids on a deterministic hash
    sample (``xxhash64(id) pmod 1e6 < fraction*1e6`` — stable across
    runs and partitionings, unlike ``df.sample``) and then assigns the
    FULL corpus a single time. At 100 TB a 1% sample gives the same
    centroids to within tol while cutting per-iteration cost 100×; this
    is the standard scale path (MLlib's KMeans has no exact-fit mode at
    that size either).
    """
    fit_df = df.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    if sample_fraction is not None:
        if not 0.0 < sample_fraction <= 1.0:
            raise ValueError(f"sample_fraction not in (0, 1]: {sample_fraction}")
        bound = int(round(sample_fraction * 1_000_000))
        fit_df = fit_df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < F.lit(bound)
        )
    fit_df = fit_df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seeds = (
            fit_df.orderBy(id_col)
            .limit(k)
            .select(F.col(vec_col).alias("v"))
            .collect()
        )
        if len(seeds) < k:
            raise ValueError(f"fit corpus has fewer than k={k} rows")
        centroids = [[float(x) for x in r["v"]] for r in seeds]

        # Single-partition fit corpora (the local-mode/sampled shape;
        # a real multi-partition corpus keeps the distributed loop) run
        # every Lloyd iteration inside ONE task: with one partition the
        # distributed merge is a no-op, so the in-task loop is
        # bit-identical while costing one job instead of n_iters
        # job+collect round trips (r13; same size-guarded-kernel
        # pattern as connected_components/pagerank).
        if util.kernel_ok(fit_df.rdd.getNumPartitions(), 1):
            centroids, n_iters = _lloyd_all_iters_kernel(
                fit_df,
                centroids,
                vec_col=vec_col,
                max_iter=max_iter,
                tol=tol,
            )
            if any(math.isnan(x) for c in centroids for x in c):
                raise ValueError(
                    "NaN centroid — input contains NaN vectors"
                )
            return (
                assign_clusters(df, centroids, vec_col=vec_col),
                centroids,
                n_iters,
            )

        n_iters = 0
        for _ in range(max_iter):
            n_iters += 1
            if util.kernel_ok():
                stats = (
                    _lloyd_partials_kernel(fit_df, centroids, vec_col=vec_col)
                    .groupBy("cluster", "pos")
                    .agg(F.sum("psum").alias("s"), F.sum("n").alias("cnt"))
                    # the kernel emits 0/0 partials for clusters no task
                    # assigned to — drop them so a globally-empty cluster
                    # is ABSENT from by_cid (0/0 is NULL, or
                    # DIVIDE_BY_ZERO under ANSI) and the previous-centroid
                    # fallback below applies, matching the Catalyst path
                    .filter(F.col("cnt") > 0)
                    .select(
                        "cluster",
                        "pos",
                        (F.col("s") / F.col("cnt").cast("double")).alias("v"),
                    )
                    .collect()  # k×dim rows — driver-sized by construction
                )
                by_cid: dict[int, list[float]] = {}
                for r in stats:
                    by_cid.setdefault(int(r["cluster"]), [0.0] * len(centroids[0]))[
                        int(r["pos"])
                    ] = float(r["v"])
            else:
                assigned = _assign_via_broadcast(
                    fit_df, centroids, vec_col=vec_col
                )
                new_rows = ivf_build_centroids(
                    assigned, cluster_col="cluster", vec_col=vec_col
                ).collect()  # k rows — driver-sized by construction
                by_cid = {
                    int(r["cluster"]): list(r["centroid"]) for r in new_rows
                }
            # an emptied cluster keeps its previous centroid (standard)
            new_centroids = [by_cid.get(i, centroids[i]) for i in range(k)]
            shift = max(
                sum((a - b) * (a - b) for a, b in zip(old, new))
                for old, new in zip(centroids, new_centroids)
            )
            centroids = new_centroids
            if shift < tol:
                break
    finally:
        fit_df.unpersist()
    if any(math.isnan(x) for c in centroids for x in c):
        raise ValueError("NaN centroid — input contains NaN vectors")
    return assign_clusters(df, centroids, vec_col=vec_col), centroids, n_iters


def silhouette_report(
    df: DataFrame,
    *,
    cluster_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Centroid-based (simplified) silhouette per cluster: for every
    point, a = distance to its OWN cluster centroid, b = distance to
    the nearest OTHER centroid, s = (b − a)/max(a, b) — the standard
    clustering-quality readout (s → 1 compact & separated, s ≈ 0
    overlapping, s < 0 likely misassigned), reported as per-cluster
    means. The full silhouette's O(n²) pairwise distances are replaced
    by k centroid distances — the only formulation that survives
    corpus scale, and the one sklearn/Spark practitioners actually
    compute at size.

    Scale shape: centroids are one (cluster, pos, val) shuffle
    (``ivf_build_centroids``); each point then meets the k-row
    centroid table via broadcast — n×k narrow (id, cluster, dist)
    rows, no vector ever re-shuffles — and folds straight to the
    per-cluster report. Degenerate cases (k = 1 → no b; a = b = 0)
    yield NULL silhouette terms, excluded from the means."""
    from vectordb_migrator_spark.operators.similarity import (
        ivf_build_centroids,
    )

    cents = ivf_build_centroids(df, cluster_col=cluster_col, vec_col=vec_col)
    pts = df.select(
        F.col(id_col),
        F.col(cluster_col).alias("__own"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    d2 = F.aggregate(
        F.zip_with("__v", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per = pts.crossJoin(F.broadcast(cents)).select(
        id_col, "__own", "cluster", F.sqrt(d2).alias("__d")
    )
    ab = per.groupBy(id_col, "__own").agg(
        F.min(
            F.when(F.col("cluster") == F.col("__own"), F.col("__d"))
        ).alias("a"),
        F.min(
            F.when(F.col("cluster") != F.col("__own"), F.col("__d"))
        ).alias("b"),
    )
    s = F.try_divide(F.col("b") - F.col("a"), F.greatest("a", "b"))
    return (
        ab.groupBy(F.col("__own").alias(cluster_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("a"), 6).alias("mean_intra"),
            F.round(F.avg("b"), 6).alias("mean_nearest"),
            F.round(F.avg(s), 6).alias("silhouette"),
        )
        .orderBy(cluster_col)
    )


def kcenter_coreset(
    df: DataFrame,
    *,
    k: int = 8,
    sample_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    seed: int = 7,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985) — the
    farthest-point heuristic behind coreset construction for active
    learning and fine-tuning-data selection (Sener & Savarese 2018):
    repeatedly pick the point farthest from the current centers; the
    result 2-approximates the optimal k-center cover, and the final
    covering radius certifies how well k exemplars represent the set.

    Determinism by construction: candidates are a fixed-size md5-rank
    sample (the standard move — greedy k-center is O(n·k); at 100 TB
    you run it on a deterministic sample, never the corpus),
    coordinates quantize to fixed point at ``scale``, and ALL
    distances are exact int64 squared distances — argmax ties break
    toward the smaller id, so the whole greedy trajectory replays
    bit-for-bit on any engine (full SQL oracle via a recursive CTE).

    Scale shape: one scan ranks the md5 sample (TakeOrdered of
    ``sample_size`` rows); the sample folds to ONE row of id/vector
    arrays, and the entire greedy loop runs inside a single
    ``F.aggregate`` expression — zero per-step jobs, like the
    Bradley-Terry MM and Holt-Winters folds.

    Returns ``(center_rank, vec_id, radius)`` — radius = the max
    over sample points of the distance to their nearest selected
    center AFTER this pick (in original coordinate units, the
    monotone coverage curve).  When the sample has fewer than ``k``
    distinct points the greedy loop stops as soon as the covering
    radius hits 0, so the output has min(k, distinct points) rows —
    never a silently duplicated center.
    """
    if k < 1 or sample_size < k:
        raise ValueError("need sample_size >= k >= 1")
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":kc:{seed}"))
    )
    xint = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.when(
            x >= 0, F.floor(x * scale + F.lit(0.5))
        )
        .otherwise(-F.floor(-x * scale + F.lit(0.5)))
        .cast("long"),
    )
    samp = (
        df.select(F.col(id_col).alias("__id"), xint.alias("__x"), key.alias("__k"))
        .orderBy("__k", "__id")
        .limit(sample_size)
    )
    one = samp.orderBy("__id").agg(
        F.collect_list("__id").alias("ids"),
        F.collect_list("__x").alias("vs"),
    )
    # collect_list after orderBy in a single-partition agg is not a
    # contract — re-sort pairs explicitly for a deterministic layout
    one = one.select(
        F.transform(
            F.array_sort(
                F.arrays_zip(F.col("ids").alias("i"), F.col("vs").alias("v"))
            ),
            lambda s: s["i"],
        ).alias("ids"),
        F.transform(
            F.array_sort(
                F.arrays_zip(F.col("ids").alias("i"), F.col("vs").alias("v"))
            ),
            lambda s: s["v"],
        ).alias("vs"),
    )
    n = F.size(F.col("ids"))

    def sqd(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    # state: sel = array of picked ORDINALS, rad = array of covering
    # radii after each pick, dist = per-point min sq dist to selection
    first = F.element_at(F.col("vs"), 1)
    dist0 = F.transform(F.col("vs"), lambda v: sqd(v, first))
    state0 = F.struct(
        F.array(F.lit(0)).alias("sel"),
        F.array(F.array_max(dist0)).alias("rad"),
        dist0.alias("dist"),
    )

    def step(acc, _):
        # argmax of dist, first index on ties (ids ascending => the
        # smallest id among the farthest points)
        best = F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.struct(
                F.lit(-1).cast("long").alias("bd"),
                F.lit(0).alias("bi"),
            ),
            lambda b, i: F.when(
                F.element_at(acc["dist"], i + 1) > b["bd"],
                F.struct(
                    F.element_at(acc["dist"], i + 1).alias("bd"),
                    i.alias("bi"),
                ),
            ).otherwise(b),
        )
        newc = F.element_at(F.col("vs"), best["bi"] + 1)
        dist2 = F.zip_with(
            acc["dist"],
            F.col("vs"),
            lambda dv, v: F.least(dv, sqd(v, newc)),
        )
        # Early stop: once every sample point sits ON a selected
        # center (max residual distance 0 — fewer than k distinct
        # points), picking again would re-select index 0 as a silent
        # duplicate. Return the accumulator unchanged instead, so the
        # output has min(k, distinct points) centers (r9 ADVICE).
        return F.when(F.array_max(acc["dist"]) <= 0, acc).otherwise(
            F.struct(
                F.concat(acc["sel"], F.array(best["bi"])).alias("sel"),
                F.concat(acc["rad"], F.array(F.array_max(dist2))).alias(
                    "rad"
                ),
                dist2.alias("dist"),
            )
        )

    fin = (
        F.aggregate(F.sequence(F.lit(2), F.lit(k)), state0, step)
        if k > 1
        else state0
    )
    out = one.select(
        F.col("ids"), fin["sel"].alias("sel"), fin["rad"].alias("rad")
    )
    return (
        out.select(
            F.posexplode(
                F.arrays_zip(
                    F.col("sel").alias("s"), F.col("rad").alias("r")
                )
            ).alias("pos", "t"),
            F.col("ids"),
        )
        .select(
            (F.col("pos") + 1).cast("long").alias("center_rank"),
            F.element_at(F.col("ids"), F.col("t.s") + 1).alias(
                id_col
            ),
            F.round(
                F.sqrt(F.col("t.r").cast("double")) / F.lit(float(scale)),
                6,
            ).alias("radius"),
        )
        .orderBy("center_rank")
    )


def facility_location_select(
    df: DataFrame,
    *,
    k: int = 8,
    sample_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    seed: int = 7,
) -> DataFrame:
    """Greedy facility-location data selection (round 10) — the
    classic submodular coverage maximizer behind CRAIG-style coreset
    and fine-tuning-data selection: repeatedly pick the point whose
    addition most increases ``F(S) = Σ_j max(0, max_{s∈S} sim(j, s))``
    (0-floored so negative similarities never "cover"); the 1−1/e
    greedy guarantee makes the selection defensible, and the
    monotonically NON-INCREASING marginal gains are the submodularity
    certificate the output carries. Complements
    :func:`kcenter_coreset`: k-center minimizes the worst gap
    (outlier-hunting), facility location maximizes total coverage
    (mode-hunting).

    Determinism by construction (the kcenter recipe): candidates are
    a fixed md5-rank sample, coordinates quantize to int64 fixed
    point, similarities are exact int64 dot products, and every
    argmax breaks ties toward the smaller ordinal (= smaller id) — so
    the greedy trajectory replays bit-for-bit (full SQL oracle via a
    recursive CTE). The O(n²) similarity matrix lives in ONE row
    bounded by ``sample_size`` (at 100 TB you select on a
    deterministic sample, never the corpus) and the whole greedy loop
    runs inside one Arrow-batched kernel over that row — zero
    per-step jobs (r11 profiling: the original single-``F.aggregate``
    unroll was execution-bound in interpreted higher-order evaluation,
    ~9 s at sf0.1; the kernel computes the IDENTICAL exact-int64
    trajectory in milliseconds).

    Returns ``(sel_rank, vec_id, gain, objective)`` — gain = the
    marginal coverage this pick added (non-increasing), objective =
    the running F(S).
    """
    if k < 1 or sample_size < k:
        raise ValueError("need sample_size >= k >= 1")
    from vectordb_migrator_spark.functions.vector import l2_normalize

    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":fl:{seed}"))
    )
    # normalize BEFORE fixed-pointing: similarity = quantized COSINE.
    # With raw dot products a single large-norm point self-covers more
    # than an entire mode and greedy degenerates to norm-sorting; unit
    # vectors make coverage about direction. The normalize is the same
    # fixed-order IEEE fold both engines replay identically.
    xint = F.transform(
        l2_normalize(F.col(vec_col)),
        lambda x: F.when(
            x >= 0, F.floor(x * scale + F.lit(0.5))
        )
        .otherwise(-F.floor(-x * scale + F.lit(0.5)))
        .cast("long"),
    )
    samp = (
        df.select(F.col(id_col).alias("__id"), xint.alias("__x"), key.alias("__k"))
        .orderBy("__k", "__id")
        .limit(sample_size)
    )
    one = samp.orderBy("__id").agg(
        F.collect_list("__id").alias("ids"),
        F.collect_list("__x").alias("vs"),
    )
    one = one.select(
        F.transform(
            F.array_sort(
                F.arrays_zip(F.col("ids").alias("i"), F.col("vs").alias("v"))
            ),
            lambda s: s["i"],
        ).alias("ids"),
        F.transform(
            F.array_sort(
                F.arrays_zip(F.col("ids").alias("i"), F.col("vs").alias("v"))
            ),
            lambda s: s["v"],
        ).alias("vs"),
    )
    # similarity matrix + greedy loop as ONE Arrow-batched kernel
    # over the single sample row (round-11 profiling: the original
    # one-expression F.aggregate unroll spent ~9 s at sf0.1 purely in
    # interpreted higher-order evaluation — ~131k nested folds — not
    # Janino compile; the kernel computes the IDENTICAL int64
    # quantities, so the greedy trajectory and the recursive-CTE
    # oracle are unchanged bit for bit, in milliseconds). Every value
    # is an exact int64: sims = V·Vᵀ (bounded by d·scale², far inside
    # int64), gains = Σ_j max(0, sim(j,c) − cov_j), argmax first
    # index on ties = smallest ordinal.
    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                ids = list(row["ids"])
                v = np.array(
                    [np.asarray(x, dtype=np.int64) for x in row["vs"]]
                )
                n = len(ids)
                sims = v @ v.T  # exact int64
                cov = np.zeros(n, dtype=np.int64)
                sel_mask = np.zeros(n, dtype=bool)
                out = []
                obj = 0
                for rank in range(1, k + 1):
                    gains = np.maximum(
                        sims - cov[:, None], 0
                    ).sum(axis=0)
                    gains[sel_mask] = -1
                    bi = int(np.argmax(gains))  # first max = min ordinal
                    bg = int(gains[bi])
                    obj += bg
                    cov = np.maximum(
                        cov, np.maximum(sims[:, bi], 0)
                    )
                    sel_mask[bi] = True
                    out.append(
                        {
                            "sel_rank": rank,
                            id_col: int(ids[bi]),
                            "gain": bg,
                            "objective": obj,
                        }
                    )
                yield pd.DataFrame(out)

    schema = f"sel_rank long, {id_col} long, gain long, objective long"
    return one.mapInPandas(kernel, schema).orderBy("sel_rank")
