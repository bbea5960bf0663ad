"""Similarity search (X3/X4) — brute-force top-k baseline and
IVF/LSH-bucketed approximate variants.

The brute-force path is the correctness oracle; IVF (inverted-file
over coarse centroids) is the scale path: probe only the ``nprobe``
nearest partitions instead of the whole corpus. Both keep the score
math in codegen (``functions.vector``); the corpus never crosses the
Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from vectordb_migrator_spark.functions.vector import (
    cosine_similarity,
    dot_product,
)
from vectordb_migrator_spark.operators import util


def probe_literal(vec: list[float]):
    """A probe vector as a literal array<double> column — broadcast to
    every task as part of the plan, no join needed.

    Built as ONE ``F.expr`` string rather than ``F.array`` over
    per-element ``F.lit``s: each ``lit`` is a py4j round trip, and the
    vector-literal-heavy plans (LSH planes, PQ codebooks/LUTs) were
    spending seconds of DRIVER time just constructing expression trees
    (measured 30× faster this way; execution is identical — same
    literal array<double>). ``repr(float)`` round-trips exactly; finite
    values only (a NaN/Inf probe is meaningless for similarity)."""
    return F.expr(
        "array(" + ",".join(repr(float(x)) + "D" for x in vec) + ")"
    )


def cosine_topk(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Brute-force cosine top-k of one probe against the corpus.

    One narrow scan computing the score + TakeOrderedAndProject(k) —
    no shuffle of vectors, no window. This is the plan shape that
    survives 100 TB: score map-side, merge k rows per partition.
    ``payload_cols`` ride through the top-k (k rows each) instead of
    forcing a join-back against the corpus afterwards.
    """
    p = probe_literal(probe)
    return (
        df.select(
            F.col(id_col),
            *[F.col(c) for c in (payload_cols or [])],
            F.round(cosine_similarity(F.col(vec_col), p), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    metric: str = "cosine",
) -> DataFrame:
    """k-NN join: for every query row, the k nearest corpus rows.

    Broadcast the (small) query side against the corpus scan, score in
    codegen, then per-query top-k via window ``row_number``. The
    shuffle is (query_id, k) sized — corpus vectors never shuffle.
    """
    score = (
        cosine_similarity(F.col(query_vec), F.col(corpus_vec))
        if metric == "cosine"
        else dot_product(F.col(query_vec), F.col(corpus_vec))
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .withColumn("score", F.round(score, 6))
        .select(query_id, corpus_id, "score")
    )
    w = W.partitionBy(query_id).orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank")
    )


def hard_negative_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    query_label: str = "q_label",
    corpus_id: str = "c_id",
    corpus_vec: str = "c_vec",
    corpus_label: str = "c_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data (the DPR /
    SimCSE recipe): for every query, the k corpus rows that are MOST
    similar yet carry a DIFFERENT label — the negatives that actually
    move a contrastive loss, vs. random negatives that are trivially
    far away.

    Same 100 TB shape as :func:`knn_join` — broadcast the (small)
    query side, score in codegen during the corpus scan, window
    ``row_number`` per query: the shuffle is (n_queries × k) rows.
    The label-mismatch test rides the same broadcast join; corpus
    vectors never shuffle.
    """
    score = cosine_similarity(F.col(query_vec), F.col(corpus_vec))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col(query_label) != F.col(corpus_label))
        .withColumn("score", F.round(score, 6))
        .select(query_id, corpus_id, F.col(corpus_label), "score")
    )
    w = W.partitionBy(query_id).orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, corpus_label, "score", "rank")
    )


def ivf_build_centroids(
    df: DataFrame,
    *,
    cluster_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer centroids = per-cluster mean vector.

    Any partition key works as the coarse assignment (a k-means
    assignment column, a label, an LSH bucket). Mean-of-arrays via
    posexplode + groupBy(pos) — one shuffle of (cluster, pos, val).
    """
    exploded = df.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    return (
        exploded.groupBy("cluster", "pos")
        .agg(F.avg("val").alias("v"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            "cluster",
            F.transform(F.col("pv"), lambda s: s.getField("v")).alias("centroid"),
        )
    )


def ivf_topk(
    df: DataFrame,
    probe: list[float],
    *,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: rank coarse centroids by probe
    similarity, scan only the ``nprobe`` best clusters.

    The cluster shortlist is tiny → broadcast into a semi-join, which
    Catalyst pushes down as a partition-prunable filter when the
    corpus is written partitioned by ``cluster_col`` — at 100 TB the
    probe reads nprobe/nlist of the data instead of all of it.
    """
    p = probe_literal(probe)
    centroids = ivf_build_centroids(df, cluster_col=cluster_col, vec_col=vec_col)
    shortlist = (
        centroids.select(
            "cluster", cosine_similarity(F.col("centroid"), p).alias("csim")
        )
        .orderBy(F.desc("csim"))
        .limit(nprobe)
        .select("cluster")
    )
    pruned = df.join(
        F.broadcast(shortlist), df[cluster_col] == shortlist["cluster"], "left_semi"
    )
    return cosine_topk(pruned, probe, k=k, id_col=id_col, vec_col=vec_col)


def random_hyperplane_signature(
    vec_col, planes: list[list[float]]
):
    """LSH bit signature: sign of the dot product against each fixed
    hyperplane (planes generated driver-side with a seeded RNG and
    inlined as literals — deterministic, no state)."""
    bits = [
        F.when(dot_product(vec_col, probe_literal(pl)) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        for pl in planes
    ]
    sig = F.lit(0).cast("long")
    for b in bits:
        sig = F.shiftleft(sig, 1).bitwiseOR(b.cast("long"))
    return sig


def python_hyperplane_signature(
    vec: list[float], planes: list[list[float]]
) -> int:
    """Driver-side twin of :func:`random_hyperplane_signature` — the
    probe's bucket as a plain int, so an index probe can fold the
    partition filter to a literal before the plan is built."""
    sig = 0
    for pl in planes:
        s = 0.0
        for x, y in zip(vec, pl):
            s += float(x) * float(y)
        sig = (sig << 1) | (1 if s >= 0 else 0)
    return sig


def build_lsh_index(
    df: DataFrame,
    planes: list[list[float]],
    path: str,
    *,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> None:
    """Materialize the hyperplane-LSH index AS A DATA LAYOUT: one pass
    computes each row's bucket signature (pure codegen) and writes the
    corpus hive-partitioned by it. A probe then reads ~1/2^nbits of
    the data via partition PRUNING — directories that never open, the
    on-disk analog of an ANN index and the pattern that actually
    scales to 100 TB (the in-plan `filter(sig == probe_sig)` of
    :func:`lsh_bucket_topk` still scans every file to evaluate the
    signature; this moves the filter into the directory listing)."""
    from vectordb_migrator_spark.operators.scale import write_partitioned

    bucketed = df.withColumn(
        bucket_col, random_hyperplane_signature(F.col(vec_col), planes)
    )
    write_partitioned(bucketed, path, partition_cols=bucket_col)


def lsh_index_append(
    new_df: DataFrame,
    planes: list[list[float]],
    path: str,
    *,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> None:
    """Incremental append to a :func:`build_lsh_index` layout. LSH
    bucketing is STATELESS (the signature depends only on the fixed
    planes), so index maintenance is trivially O(batch): signature in
    codegen, append into the hive partitions — no stored state to
    read back, no rebuild, probes see new rows via the directory
    listing. The planes MUST be the ones the layout was built with
    (the caller owns persisting them; they are plan-time literals)."""
    from vectordb_migrator_spark.operators.scale import write_partitioned

    bucketed = new_df.withColumn(
        bucket_col, random_hyperplane_signature(F.col(vec_col), planes)
    )
    write_partitioned(bucketed, path, partition_cols=bucket_col, mode="append")


def build_ivf_index(
    df: DataFrame,
    path: str,
    *,
    cluster_col: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: the corpus hive-partitioned by its
    coarse cluster (``<path>/corpus``) plus the per-cluster mean
    centroids (``<path>/centroids``, nlist driver-tiny rows). The
    on-disk analog of a FAISS inverted file: a probe ranks the
    centroid table, folds the nprobe winners into a literal partition
    filter, and never opens the other nlist - nprobe directories."""
    from vectordb_migrator_spark.operators.scale import write_partitioned

    write_partitioned(df, f"{path}/corpus", partition_cols=cluster_col)
    ivf_build_centroids(df, cluster_col=cluster_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")


def ivf_index_append(
    spark,
    path: str,
    new_df: DataFrame,
    *,
    cluster_col: str,
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign a NEW batch to the
    existing coarse centroids (read back from the index — driver-tiny)
    and append its rows into the hive partitions. Ingest stays
    O(batch): no rebuild, resident partitions untouched, and probes
    immediately see the new rows because pruning is directory-based.
    Centroids are deliberately NOT refreshed here — IVF practice is to
    keep the quantizer frozen between offline rebuilds (refreshing
    per-batch would re-bucket resident rows and force a rewrite);
    rebuild via :func:`build_ivf_index` when imbalance or recall
    degrades.
    """
    from vectordb_migrator_spark.operators.clustering import assign_clusters
    from vectordb_migrator_spark.operators.scale import write_partitioned

    ivf_finish_swap(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    ids = [r["cluster"] for r in cents]
    centroids = [[float(x) for x in r["centroid"]] for r in cents]
    assigned = assign_clusters(new_df, centroids, vec_col=vec_col)
    # positional argmin index -> the layout's actual cluster ids
    # (which need not be contiguous)
    mapped = F.element_at(
        F.array(*[F.lit(c) for c in ids]), F.col("cluster") + 1
    )
    out = (
        assigned.withColumn("__mapped", mapped)
        .drop("cluster")
        .drop(cluster_col)  # no-op unless new_df carried a stale column
        .withColumnRenamed("__mapped", cluster_col)
    )
    write_partitioned(
        out, f"{path}/corpus", partition_cols=cluster_col, mode="append"
    )


def ivf_index_topk(
    spark,
    path: str,
    probe: list[float],
    *,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a :func:`build_ivf_index` layout: read the (tiny)
    centroid table, rank it DRIVER-side (ties to the lowest cluster
    id, matching the SQL oracle), and fold the nprobe winners into a
    literal ``IN`` over the partition column — ``PartitionFilters`` at
    the scan, directories that never open. Results are identical to
    the in-plan :func:`ivf_topk` on the same corpus and clustering;
    at 100 TB this replaces evaluating a semi-join against every file
    with a directory listing."""
    import math

    ivf_finish_swap(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").collect()
    pn = math.sqrt(sum(float(y) * float(y) for y in probe))

    def cos(c):
        num = sum(float(x) * float(y) for x, y in zip(c, probe))
        return num / (math.sqrt(sum(float(x) * float(x) for x in c)) * pn)

    ranked = sorted((-cos(r["centroid"]), r["cluster"]) for r in cents)
    probed = [c for _, c in ranked[:nprobe]]
    pruned = spark.read.parquet(f"{path}/corpus").filter(
        F.col(cluster_col).isin(probed)
    )
    return cosine_topk(pruned, probe, k=k, id_col=id_col, vec_col=vec_col)


def ivf_index_filtered_topk(
    spark,
    path: str,
    probe: list[float],
    predicate,
    *,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered search over a :func:`build_ivf_index` layout — the
    production ANN query shape: a metadata PRE-filter (filter first,
    then rank — every returned row satisfies the predicate, the
    semantics vector DBs call pre-filtering) composed with coarse
    partition pruning. The plan stacks three prunings on one scan:
    directory pruning (nprobe partitions), parquet row-group pruning
    (the pushed predicate), then the codegen score + TakeOrdered.
    ``predicate`` is any Column over the layout's payload columns.

    Caveat shared with every IVF pre-filter: a highly-selective
    predicate can empty the probed partitions while matches exist in
    unprobed ones — raise ``nprobe`` when the filter is sharp (the
    recall/nprobe trade, now with a filter term)."""
    import math

    ivf_finish_swap(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").collect()
    pn = math.sqrt(sum(float(y) * float(y) for y in probe))

    def cos(c):
        num = sum(float(x) * float(y) for x, y in zip(c, probe))
        return num / (math.sqrt(sum(float(x) * float(x) for x in c)) * pn)

    ranked = sorted((-cos(r["centroid"]), r["cluster"]) for r in cents)
    probed = [c for _, c in ranked[:nprobe]]
    pruned = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col(cluster_col).isin(probed))
        .filter(predicate)
    )
    return cosine_topk(pruned, probe, k=k, id_col=id_col, vec_col=vec_col)


def lsh_index_topk(
    spark,
    path: str,
    probe: list[float],
    planes: list[list[float]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Probe a :func:`build_lsh_index` layout: the probe's bucket folds
    to a literal partition filter (``PartitionFilters`` at the scan —
    only the matching directory is read), then exact cosine top-k over
    that sliver. Results are identical to :func:`lsh_bucket_topk` on
    the same corpus and planes."""
    sig = python_hyperplane_signature(probe, planes)
    pruned = spark.read.parquet(path).filter(F.col(bucket_col) == sig)
    return cosine_topk(pruned, probe, k=k, id_col=id_col, vec_col=vec_col)


def lsh_bucket_topk(
    df: DataFrame,
    probe: list[float],
    planes: list[list[float]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: search only rows whose hyperplane signature
    matches the probe's bucket (recall traded for a ~2^nbits scan
    reduction). Bucket assignment is codegen; probe bucket folds to a
    constant at plan time."""
    sig = random_hyperplane_signature(F.col(vec_col), planes)
    probe_sig = random_hyperplane_signature(probe_literal(probe), planes)
    bucketed = df.filter(sig == probe_sig)
    return cosine_topk(bucketed, probe, k=k, id_col=id_col, vec_col=vec_col)


def hamming_topk(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by Hamming distance between sign-bit signatures — the
    binary-quantized retrieval path: 32× less data scanned than float
    cosine, score = one XOR + popcount per row, merge k per partition
    (TakeOrderedAndProject). Recall vs exact cosine is the standard
    binary-quantization trade; rerank the top-k with float vectors
    when precision matters.
    """
    from vectordb_migrator_spark.functions.vector import (
        binary_quantize,
        python_binary_quantize,
    )

    probe_sig = python_binary_quantize(probe)
    return (
        df.select(
            F.col(id_col),
            F.bit_count(
                binary_quantize(F.col(vec_col)).bitwiseXOR(
                    F.lit(probe_sig).cast("long")
                )
            ).alias("hamming"),
        )
        .orderBy("hamming", id_col)
        .limit(k)
    )


def _sq_l2(a, b) -> "F.Column":
    """Squared L2 distance between two array<double> columns, folded
    in index order (deterministic summation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_sampled_codebooks(
    df: DataFrame,
    *,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks sampled from the corpus: subspace
    ``s``'s codewords are the ``s``-th subvectors of the ``k``
    lowest-id rows. Deterministic and reproducible from the data alone
    (so an external SQL oracle can rebuild it); a Lloyd-refined
    codebook from ``clustering.kmeans_fit`` per subspace plugs into the
    same encode/query path when recall matters more than simplicity.
    Returns ``codebooks[s][j] = list[dsub floats]`` — driver-sized
    (m·k·dsub = one vector's worth of floats per codeword)."""
    rows = (
        df.filter(F.col(id_col) < k)
        .orderBy(id_col)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    vecs = [[float(x) for x in r[0]] for r in rows]
    if len(vecs) != k:
        # an empty/sparse-id corpus would otherwise IndexError at
        # vecs[0] or silently build a short codebook that diverges
        # from any id-based external reconstruction
        raise ValueError(
            f"pq_sampled_codebooks needs all of {id_col} 0..{k - 1} "
            f"present; found {len(vecs)} rows with {id_col} < {k}"
        )
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    return [[v[s * dsub : (s + 1) * dsub] for v in vecs] for s in range(m)]


def codebook_literal(cb: list[list[float]]):
    """One subspace codebook (k × dsub) as a single literal
    array<array<double>> — one ``F.expr`` instead of k per-codeword
    literals (the plan-build-time twin of :func:`probe_literal`)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in cw) + ")"
            for cw in cb
        )
        + ")"
    )


def pq_codes(vec_col, codebooks: list[list[list[float]]]):
    """Per-subspace nearest-codeword indices (0-based, ties to the
    lowest index) as an ``array<int>`` column — pure codegen: slice +
    squared-L2 fold transformed over the literal codebook array +
    array_position argmin. (One ``transform`` per subspace, not k
    unrolled folds: identical values in the same order, but the
    expression tree is k× smaller to build and compile.)
    At 100 TB this column is what you materialize: m bytes/vector
    instead of 4·dim, and every later query scans codes only."""
    dsub = len(codebooks[0][0])
    v = vec_col.cast("array<double>")
    out = []
    for s, cb in enumerate(codebooks):
        sub = F.slice(v, s * dsub + 1, dsub)
        dists = F.transform(codebook_literal(cb), lambda cw: _sq_l2(sub, cw))
        out.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*out)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Materialize PQ codes next to (or instead of) the float vectors."""
    return df.withColumn(code_col, pq_codes(F.col(vec_col), codebooks))


def python_pq_lut(
    probe: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """ADC lookup table for one probe: ``lut[s][j]`` = squared L2
    between the probe's subspace-``s`` slice and codeword ``j``.
    Driver-side (m·k doubles), folded in index order like ``_sq_l2``."""
    dsub = len(codebooks[0][0])
    lut = []
    for s, cb in enumerate(codebooks):
        psub = probe[s * dsub : (s + 1) * dsub]
        row = []
        for cw in cb:
            acc = 0.0
            for x, y in zip(psub, cw):
                acc += (x - y) * (x - y)
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_topk(
    df: DataFrame,
    probe: list[float],
    codebooks: list[list[list[float]]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance computation: the
    probe→codeword distances fold into an m×k LUT on the driver, so the
    per-row distance is m array lookups + (m-1) adds — no float-vector
    math in the scan at all. One corpus pass, TakeOrderedAndProject(k),
    nothing shuffles. Here the corpus is encoded inline (the fixtures
    carry raw vectors); a production pipeline would ``pq_encode`` once
    and scan the m-byte codes, a 4·dim/m compression of the read path.
    """
    lut = python_pq_lut(probe, codebooks)
    dsub = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    dist = None
    for s, cb in enumerate(codebooks):
        sub = F.slice(v, s * dsub + 1, dsub)
        dists = F.transform(codebook_literal(cb), lambda cw: _sq_l2(sub, cw))
        code1 = F.array_position(dists, F.array_min(dists)).cast("int")  # 1-based
        term = F.element_at(probe_literal(lut[s]), code1)
        dist = term if dist is None else dist + term
    return (
        df.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_adc_topk_codes(
    df: DataFrame,
    probe: list[float],
    codebooks: list[list[list[float]]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k over MATERIALIZED PQ codes — the production read path
    :func:`pq_adc_topk` only simulates. ``df`` carries an
    ``array<int>`` code column (from :func:`pq_encode`, stored once);
    the per-row distance is ``element_at(lut[s], code[s]+1)`` summed
    over the m subspaces — m literal-array lookups + (m-1) adds, no
    slicing, no squared-L2 folds, no per-row argmin. The scan reads m
    bytes per vector instead of 4·dim and feeds one
    TakeOrderedAndProject(k); nothing shuffles."""
    lut = python_pq_lut(probe, codebooks)
    dist = None
    for s in range(len(codebooks)):
        term = F.element_at(
            probe_literal(lut[s]),
            F.col(code_col).getItem(s) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        df.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def binary_rerank_topk(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized shortlist → exact float rerank — the standard
    two-stage ANN composition that recovers the recall binary
    quantization gives up. Stage 1 scans signatures only (XOR+popcount,
    32× less data than float cosine) and keeps an over-fetched
    ``shortlist`` (default 4k) via TakeOrderedAndProject — ONE scan, no
    shuffle, the float vector carried through as top-k payload. Stage 2
    rescores just those ``shortlist`` rows with exact cosine and cuts to
    ``k``. At 100 TB the corpus is only ever read once, in its compact
    form; full-precision math touches a driver-bounded row count."""
    from vectordb_migrator_spark.functions.vector import (
        binary_quantize,
        cosine_similarity,
        python_binary_quantize,
    )

    shortlist = shortlist or 4 * k
    probe_sig = python_binary_quantize(probe)
    short = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.bit_count(
                binary_quantize(F.col(vec_col)).bitwiseXOR(
                    F.lit(probe_sig).cast("long")
                )
            ).alias("hamming"),
        )
        .orderBy("hamming", id_col)
        .limit(shortlist)
    )
    return (
        short.select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), probe_literal(probe)), 6)
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def lsh_multiprobe_topk(
    df: DataFrame,
    probe: list[float],
    planes: list[list[float]],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH: scan the probe's signature bucket AND every
    bucket at Hamming distance 1 (one flipped hyperplane bit) — the
    standard recall recovery for bucketed LSH. Near misses usually
    differ in exactly one marginal hyperplane sign, so probing the
    nbits neighbors recovers most of what single-bucket probing loses
    at the cost of scanning (nbits+1)/2^nbits of the corpus instead of
    1/2^nbits — still a bucketed scan, no extra plane sets, no join.
    All candidate buckets fold to plan-time constants."""
    sig = random_hyperplane_signature(F.col(vec_col), planes)
    probe_sig = random_hyperplane_signature(probe_literal(probe), planes)
    cond = sig == probe_sig
    for i in range(len(planes)):
        cond = cond | (sig == probe_sig.bitwiseXOR(F.lit(1 << i).cast("long")))
    return cosine_topk(df.filter(cond), probe, k=k, id_col=id_col, vec_col=vec_col)


def cosine_range_search(
    df: DataFrame,
    probe: list[float],
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) search: every vector whose cosine similarity to
    the probe is >= ``threshold`` — the unbounded-result twin of
    :func:`cosine_topk` that Qdrant (``score_threshold``), Milvus
    (``range_search``) and pgvector (``WHERE 1 - (v <=> p) > t``)
    expose alongside top-k.

    One narrow scan, the threshold applied as a plain Filter directly
    over the codegen score — no sort, no limit, no shuffle; at 100 TB
    the result streams out partition-parallel (unlike top-k there is
    no TakeOrderedAndProject merge on the driver).
    """
    p = probe_literal(probe)
    return df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), p), 6).alias("score"),
    ).filter(F.col("score") >= threshold)


def ivfpq_topk(
    df: DataFrame,
    probe: list[float],
    codebooks: list[list[list[float]]],
    *,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse pruning + PQ asymmetric-distance scan — the IVFADC
    layout every billion-scale ANN system ships (FAISS IVFx,PQy): the
    coarse quantizer cuts the candidate set to nprobe/nlist of the
    corpus, then the fine quantizer scores the survivors with m LUT
    lookups per row instead of float-vector math.

    Composition of :func:`ivf_topk`'s broadcast-semi-join prune and
    :func:`pq_adc_topk`'s LUT scan, so each half keeps its 100 TB
    story: with the corpus written partitioned by ``cluster_col`` and
    the codes materialized via :func:`pq_encode`, the probe reads
    nprobe/nlist of an m-byte-per-vector store — the two compressions
    multiply. Ties in the coarse ranking break on the lowest cluster
    id (deterministic, matching the SQL oracle).
    """
    from vectordb_migrator_spark.functions.vector import cosine_similarity as _cs

    p = probe_literal(probe)
    centroids = ivf_build_centroids(df, cluster_col=cluster_col, vec_col=vec_col)
    shortlist = (
        centroids.select("cluster", _cs(F.col("centroid"), p).alias("csim"))
        .orderBy(F.desc("csim"), "cluster")
        .limit(nprobe)
        .select("cluster")
    )
    pruned = df.join(
        F.broadcast(shortlist), df[cluster_col] == shortlist["cluster"], "left_semi"
    )
    return pq_adc_topk(pruned, probe, codebooks, k=k, id_col=id_col, vec_col=vec_col)


def sq_topk(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 scalar-quantized top-k (asymmetric): corpus vectors live as
    symmetric int8 codes + one scale (``functions.vector.int8_quantize``
    — 4 bytes/dim → 1), the probe stays full-precision, and the score
    is exact cosine over the dequantized values. The third member of
    the quantized-retrieval family next to PQ/ADC (:func:`pq_adc_topk`)
    and binary Hamming (:func:`hamming_topk`): SQ keeps near-exact
    recall (error ≤ scale/2 per dim) at 4× compression where binary
    takes 32× at a recall cost.

    One scan + TakeOrderedAndProject, all codegen. Here quantization is
    inline (the fixtures carry floats); a production corpus stores the
    ``int8_quantize`` struct once and the scan reads 1 byte/dim.
    """
    p = probe_literal(probe)
    return (
        sq_dequantized(df, id_col=id_col, vec_col=vec_col, out_col="_dv")
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col("_dv"), p), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def opq_balanced_permutation(
    variances: list[float],
    m: int,
    *,
    strategy: str = "serpentine",
) -> list[int]:
    """OPQ-style subspace re-assignment as a pure dimension
    PERMUTATION: distribute dimensions across ``m`` equal subspaces so
    per-subspace variance is balanced. ``x9_pq_perm_error`` showed
    subspace assignment (not codebook count) drives PQ error; a full
    OPQ learns an orthogonal rotation — this is its cheap,
    engine-reproducible stand-in (a permutation IS orthogonal), fed by
    nothing but the corpus's per-dimension variances, so an external
    SQL oracle can rebuild it exactly.

    Dimensions are ranked by variance DESC (rounded to 9 decimals
    before ranking so cross-engine float noise cannot flip
    near-ties; ties break toward the lower dim index), then assigned:

    - ``serpentine`` (default): boustrophedon deal — rank r goes to
      subspace ``r%m`` on even blocks, ``m-1-(r%m)`` on odd blocks.
      Closed-form, hence expressible in the DuckDB oracle; balance is
      within one deal-block of greedy.
    - ``greedy``: longest-processing-time — each dim goes to the
      least-loaded subspace with remaining capacity (ties toward the
      lower subspace). Slightly tighter balance; iterative, so it is
      differential-tested against a NumPy replica rather than a SQL
      oracle.

    Returns a 0-indexed permutation ``perm`` of ``len(variances)``
    where output position ``j`` reads source dimension ``perm[j]``;
    within each subspace, source dims are listed ascending (the
    deterministic layout both engines and the codebook reshuffle
    agree on). Driver-side on d floats — O(model), not O(rows)."""
    d = len(variances)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    cap = d // m
    ranked = sorted(range(d), key=lambda i: (-round(variances[i], 9), i))
    members: list[list[int]] = [[] for _ in range(m)]
    if strategy == "serpentine":
        for r, dim in enumerate(ranked):
            block, p = divmod(r, m)
            s = p if block % 2 == 0 else m - 1 - p
            members[s].append(dim)
    elif strategy == "greedy":
        loads = [0.0] * m
        for dim in ranked:
            s = min(
                (s for s in range(m) if len(members[s]) < cap),
                key=lambda s: (loads[s], s),
            )
            members[s].append(dim)
            loads[s] += variances[dim]
    else:
        raise ValueError(
            f"strategy must be 'serpentine' or 'greedy', got {strategy!r}"
        )
    perm: list[int] = []
    for s in range(m):
        perm.extend(sorted(members[s]))
    return perm


def sq_dequantized(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "_dv",
) -> DataFrame:
    """``df`` + the int8-SQ dequantized vector (round(v/scale)·scale)
    as ``out_col`` — value-identical to
    ``int8_dequantize(int8_quantize(v))`` but staged so the per-vector
    ``scale`` (an O(d) max fold) lands in its own projection FIRST and
    the per-element lambda references it as a plain column. Inlining
    the fold inside ``transform``'s lambda makes codegen re-evaluate it
    for every element — O(d²) per row, measured ~12× slower than plain
    cosine at d=64; this shape is O(d)."""
    v = F.col(vec_col).cast("array<double>")
    staged = df.select(
        "*",
        (
            F.aggregate(v, F.lit(0.0), lambda s, x: F.greatest(s, F.abs(x)))
            / F.lit(127.0)
        ).alias("_sq_scale"),
    )
    sc = F.col("_sq_scale")
    dv = F.when(
        sc == 0.0, F.transform(v, lambda x: F.lit(0.0))
    ).otherwise(F.transform(v, lambda x: F.round(x / sc, 0) * sc))
    return staged.select("*", dv.alias(out_col)).drop("_sq_scale")


def _ivf_hadoop(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def ivf_finish_swap(spark, path: str) -> bool:
    """Complete a :func:`ivf_index_refit` publish interrupted between
    its two renames: a finished ``<path>__refit`` sibling + missing
    ``<path>`` means the old generation was deleted but the new one
    was never renamed in — rename it in now. Mirrors the streaming
    shingle-store compaction's ``_finish_swap``: the ``__refit`` dir
    is only ever complete when it exists alongside a missing ``path``
    (the delete happens strictly after the rebuild write finishes, so
    a crash mid-write leaves ``path`` intact and the recovery a
    no-op). Every index reader/maintainer here calls this first, so a
    crashed refit heals on the next touch. Returns True iff a swap
    was completed."""
    fs, tmp = _ivf_hadoop(spark, f"{path}__refit")
    _, dst = _ivf_hadoop(spark, path)
    if fs.exists(tmp) and not fs.exists(dst):
        fs.rename(tmp, dst)
        return True
    return False


def ivf_index_health(spark, path: str, *, cluster_col: str = "cluster") -> DataFrame:
    """Health report for a :func:`build_ivf_index` layout: per-partition
    row counts/shares plus the imbalance factor (max partition over
    mean) — the stored-layout twin of the suite's ``x4_ivf_balance``.
    The partition column is directory-derived, so the count scan reads
    parquet footers, not vector data. An imbalance of I means the
    hottest probe partition does I× the mean scan work; IVF practice
    refits the quantizer (offline) when I drifts too high."""
    ivf_finish_swap(spark, path)
    corpus = spark.read.parquet(f"{path}/corpus")
    per = corpus.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = per.agg(
        F.sum("n").cast("double").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.max("n").cast("long").alias("__max"),
    )
    return (
        per.crossJoin(F.broadcast(s))
        .select(
            F.col(cluster_col),
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("share"),
            F.round(F.col("__max") / (F.col("__total") / F.col("__k")), 6).alias(
                "imbalance"
            ),
        )
        .orderBy(cluster_col)
    )


def ivf_index_refit(
    spark,
    path: str,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    max_imbalance: float | None = None,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> bool:
    """Offline IVF quantizer rebuild — the maintenance step
    :func:`ivf_index_append` defers to: refit k-means on the STORED
    corpus, rewrite the layout into a ``__refit`` sibling, then
    publish via delete + rename. The rebuilt layout keeps the
    caller's ``cluster_col`` as its partition column, so subsequent
    health/probe calls using the original name keep working.

    Crash contract (same as the streaming shingle-store compaction):
    a crash BEFORE the delete loses only the refit attempt — the old
    index stays whole; a crash BETWEEN the delete and the rename
    leaves the index absent at ``path`` with the complete new
    generation at ``path__refit``, and :func:`ivf_finish_swap`
    (called at the top of every reader/maintainer here, including
    this function) completes the rename on the next touch. The
    delete+rename pair is NOT atomic for a concurrent reader — run
    refits from the single maintenance owner, as with any offline
    FAISS rebuild. With ``max_imbalance`` set, the rebuild runs ONLY
    when :func:`ivf_index_health` reports drift past it — the cheap
    health check (footer counts) gates the expensive refit (Lloyd
    over the corpus; pass ``sample_fraction`` at real scale). Returns
    True iff a refit was published."""
    from vectordb_migrator_spark.operators.clustering import kmeans_fit

    ivf_finish_swap(spark, path)
    if max_imbalance is not None:
        row = ivf_index_health(spark, path, cluster_col=cluster_col).first()
        if row is not None and row["imbalance"] <= max_imbalance:
            return False
    corpus = spark.read.parquet(f"{path}/corpus").drop(cluster_col)
    assigned, _, _ = kmeans_fit(
        corpus,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        max_iter=max_iter,
        sample_fraction=sample_fraction,
    )
    if cluster_col != "cluster":
        assigned = assigned.withColumnRenamed("cluster", cluster_col)
    tmp = f"{path}__refit"
    build_ivf_index(assigned, tmp, cluster_col=cluster_col, vec_col=vec_col)
    fs, dst = _ivf_hadoop(spark, path)
    _, tmp_p = _ivf_hadoop(spark, tmp)
    fs.delete(dst, True)
    fs.rename(tmp_p, dst)
    return True


def ivf_index_batch_topk(
    spark,
    path: str,
    probes: DataFrame,
    *,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "q_id",
    probe_vec_col: str = "q_vec",
) -> DataFrame:
    """BATCHED probe of a :func:`build_ivf_index` layout — the
    production retrieval shape (Q queries arrive together, not one at
    a time). Per probe, the tiny centroid table ranks driver-side and
    yields its nprobe clusters; the UNION of all probed clusters folds
    into ONE literal partition filter, so the corpus is scanned once
    for the whole batch and unprobed directories never open. The probe
    side becomes a broadcast (cluster → probes) frame joined against
    the pruned scan on the partition column — each corpus row is
    scored only against the probes that probed its cluster — and a
    per-probe window keeps the top k.

    vs Q separate :func:`ivf_index_topk` calls: one scan instead of Q,
    at the cost of scanning the union of partitions (at 100 TB with
    1000s of probes per second, batch probing is the only shape that
    amortizes; single-probe stays for latency-bound lookups).
    Ties rank ``(score DESC, id ASC)`` like every top-k here.

    Driver-bounded contract: the probe BATCH collects to the driver
    (Q × dim floats — a query workload, not corpus data) to rank
    centroids and build the literal partition filter; the corpus side
    never leaves executors. For probe sets too big for one driver
    round-trip, split into sub-batches — each still costs one scan of
    its partition union."""
    import math

    from pyspark.sql import Window as W

    ivf_finish_swap(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").collect()
    probe_rows = probes.select(probe_id_col, probe_vec_col).collect()

    def cos(c, p, pn):
        num = sum(float(x) * float(y) for x, y in zip(c, p))
        return num / (
            math.sqrt(sum(float(x) * float(x) for x in c)) * pn
        )

    assign = []  # (cluster, q_id, q_vec)
    for pr in probe_rows:
        p = [float(x) for x in pr[probe_vec_col]]
        pn = math.sqrt(sum(x * x for x in p))
        ranked = sorted((-cos(r["centroid"], p, pn), r["cluster"]) for r in cents)
        for _, c in ranked[:nprobe]:
            assign.append((c, pr[probe_id_col], p))
    probed_clusters = sorted({a[0] for a in assign})
    probe_df = spark.createDataFrame(
        assign, f"{cluster_col} int, {probe_id_col} long, {probe_vec_col} array<double>"
    )
    pruned = spark.read.parquet(f"{path}/corpus").filter(
        F.col(cluster_col).isin(probed_clusters)
    )
    scored = (
        pruned.join(F.broadcast(probe_df), cluster_col)
        .select(
            probe_id_col,
            id_col,
            F.round(
                cosine_similarity(
                    F.col(vec_col).cast("array<double>"), F.col(probe_vec_col)
                ),
                6,
            ).alias("score"),
        )
    )
    w = W.partitionBy(probe_id_col).orderBy(F.desc("score"), id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "score", "rank")
    )


def ivfpq_residual_topk(
    df: DataFrame,
    probe: list[float],
    *,
    cluster_col: str,
    m: int = 4,
    codeword_ids_below: int = 16,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the layout FAISS actually ships
    as IVFx,PQy: vectors quantize their residual r = x − centroid(x's
    cluster), not x itself. Residuals concentrate near the origin, so
    the same codebook budget spends its resolution where the data is —
    the standard recall upgrade over :func:`ivfpq_topk`'s plain-vector
    codes at identical storage.

    Model-sized driver work only (the k-means-centroids contract):
    nlist centroids, the ``codeword_ids_below`` codeword rows, and the
    per-shortlisted-cluster LUTs (nprobe·m·k_codewords doubles, each
    entry ‖(q − c)ₛ − codewordₛⱼ‖², folded in index order for the
    oracle contract). The scan is pure codegen: a label when-chain
    picks the row's centroid literal, per-subspace argmin picks the
    residual code, and the ADC distance is m LUT lookups — the probe
    reads nprobe/nlist of an m-byte-per-vector store once codes are
    materialized. Ties break (dist, id), coarse ties (−sim, cluster)."""
    from vectordb_migrator_spark.functions.vector import (
        cosine_similarity as _cs,
    )

    dim = len(probe)
    dsub = dim // m
    cents = {
        r["cluster"]: [float(x) for x in r["centroid"]]
        for r in ivf_build_centroids(
            df, cluster_col=cluster_col, vec_col=vec_col
        ).collect()
    }
    cw_rows = (
        df.filter(F.col(id_col) < codeword_ids_below)
        .select(
            F.col(id_col).alias("__id"),
            F.col(cluster_col).alias("__c"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .orderBy("__id")
        .collect()
    )
    # one shared residual codebook: codeword j = (vector_j − its own
    # cluster's centroid), sliced per subspace
    res_cb = []
    for s in range(m):
        rows = []
        for r in cw_rows:
            c = cents[r["__c"]]
            rows.append(
                [
                    r["__v"][i] - c[i]
                    for i in range(s * dsub, (s + 1) * dsub)
                ]
            )
        res_cb.append(rows)

    p = probe_literal(probe)
    centroids = ivf_build_centroids(
        df, cluster_col=cluster_col, vec_col=vec_col
    )
    short = [
        r["cluster"]
        for r in (
            centroids.select(
                "cluster", _cs(F.col("centroid"), p).alias("csim")
            )
            .orderBy(F.desc("csim"), "cluster")
            .limit(nprobe)
            .collect()
        )
    ]
    # per-cluster LUT: ‖(q − cent_c)ₛ − codewordₛⱼ‖², index-order folds
    luts = {}
    for c in short:
        qres = [probe[i] - cents[c][i] for i in range(dim)]
        lut = []
        for s in range(m):
            qs = qres[s * dsub : (s + 1) * dsub]
            row = []
            for cw in res_cb[s]:
                acc = 0.0
                for x, y in zip(qs, cw):
                    acc += (x - y) * (x - y)
                row.append(acc)
            lut.append(row)
        luts[c] = lut

    pruned = df.filter(F.col(cluster_col).isin(*[int(c) for c in short]))
    cent_expr = None
    for c in short:
        branch = probe_literal(cents[c])
        cent_expr = (
            F.when(F.col(cluster_col) == c, branch)
            if cent_expr is None
            else cent_expr.when(F.col(cluster_col) == c, branch)
        )
    v = F.col(vec_col).cast("array<double>")
    res = F.zip_with(v, cent_expr, lambda a, b: a - b)

    dist = None
    for s in range(m):
        sub = F.slice(res, s * dsub + 1, dsub)
        dists = F.transform(
            codebook_literal(res_cb[s]), lambda cw: _sq_l2(sub, cw)
        )
        code1 = F.array_position(dists, F.array_min(dists)).cast("int")
        term = None
        for c in short:
            lut_lit = probe_literal(luts[c][s])
            t = F.element_at(lut_lit, code1)
            term = (
                F.when(F.col(cluster_col) == c, t)
                if term is None
                else term.when(F.col(cluster_col) == c, t)
            )
        dist = term if dist is None else dist + term
    return (
        pruned.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_learned_codebooks(
    df: DataFrame,
    *,
    m: int = 4,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Lloyd-refined PQ codebooks: start from
    :func:`pq_sampled_codebooks`' deterministic seeds and run
    ``n_iter`` fixed k-means iterations PER SUBSPACE — but all m
    subspaces train in the SAME distributed pass per iteration (one
    exploded (s, subvector) frame, persisted once; assignment is a
    per-s codebook when-chain in codegen; the update is one
    (s, j, pos) average collect of m·k·dsub doubles — driver-sized).
    Lloyd never increases in-sample quantization error, so the result
    is ≤ the sampled codebook's MSE on the training corpus by
    construction (asserted in tests). Fixed iterations, deterministic
    seeds — reproducible across runs; codeword averages carry
    reduction-order ulps, so queries built on it are rows-only
    checkable (with a NumPy differential in tests). Empty clusters
    keep their previous codeword."""
    from pyspark import StorageLevel

    init = pq_sampled_codebooks(
        df, m=m, k=k, id_col=id_col, vec_col=vec_col
    )
    dsub = len(init[0][0])
    v = F.col(vec_col).cast("array<double>")
    sub = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).cast("int").alias("s"),
                            F.slice(v, s * dsub + 1, dsub).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        cbs = [list(map(list, cb)) for cb in init]
        for _ in range(n_iter):
            assign = None
            for s in range(m):
                dists = F.transform(
                    codebook_literal(cbs[s]),
                    lambda cw: _sq_l2(F.col("sv"), cw),
                )
                j = (
                    F.array_position(dists, F.array_min(dists)) - 1
                ).cast("int")
                assign = (
                    F.when(F.col("s") == s, j)
                    if assign is None
                    else assign.when(F.col("s") == s, j)
                )
            upd = (
                sub.withColumn("j", assign)
                .select("s", "j", F.posexplode("sv").alias("pos", "val"))
                .groupBy("s", "j", "pos")
                .agg(F.avg("val").alias("v"))
                .collect()
            )
            new = [
                [list(cw) for cw in cb] for cb in cbs
            ]  # empty clusters keep previous words
            for r in upd:
                new[r["s"]][r["j"]][r["pos"]] = float(r["v"])
            cbs = new
        return cbs
    finally:
        sub.unpersist()


def fixed_point_array(col, scale: int):
    """Half-away-from-zero fixed-point quantization of an
    array<double> column to array<long>: ``sign(x)·floor(|x|·scale +
    ½)`` per element — the same explicit-sign convention as the
    Hadamard kernel, reproducible verbatim in any SQL engine."""
    s = F.lit(float(scale))
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.when(x >= 0, F.floor(x * s + F.lit(0.5)))
        .otherwise(-F.floor(-x * s + F.lit(0.5)))
        .cast("long"),
    )


def _round_half_away_int(num: int, den: int) -> int:
    """Exact integer round-half-away-from-zero of ``num/den``
    (``den > 0``) — no float in the loop, so Spark and any SQL
    engine replaying the same integer sums agree bit-for-bit."""
    if num >= 0:
        return (2 * num + den) // (2 * den)
    return -((-2 * num + den) // (2 * den))


def pq_learned_codebooks_fp(
    df: DataFrame,
    *,
    m: int = 4,
    k: int = 16,
    n_iter: int = 3,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_codebooks: list[list[list[float]]] | None = None,
) -> list[list[list[int]]]:
    """ENGINE-EXACT twin of :func:`pq_learned_codebooks`: the same
    fixed-iteration Lloyd refinement of the deterministic sampled
    seeds, but run entirely in integer fixed point — coordinates
    quantize once (:func:`fixed_point_array`, half-away at ``scale``),
    distances are exact int64 sums (order-free), the argmin tie-break
    is first-lowest codeword index, and the centroid update is the
    exact integer half-away average ``round(Σv / n)`` with empty
    clusters keeping their previous codeword. Every quantity in the
    loop is an integer, so a SQL engine unrolling the same ``n_iter``
    iterations (suite/s04_similarity.py:_pq_lloyd_ctes) reproduces the
    codebooks bit-for-bit — this is what upgrades
    ``x9_pq_learned_error`` from a rows-only check to a full value
    oracle. Returns ``codebooks[s][j] = list[dsub ints]`` at
    ``scale`` fixed point.

    Scale shape is identical to the float twin: one exploded
    (s, subvector) frame persisted once; per iteration one
    assignment-and-partial-sum pass + one (s, j, pos) integer-sum
    collect of m·k·dsub longs (driver-sized, the k-means-centroids
    contract). The assignment pass defaults to an Arrow kernel (r12):
    exact int64 distance matrix + first-index argmin + per-cluster
    integer column sums per batch — every quantity an exact int64 and
    every reduction order-free, so the kernel is BIT-IDENTICAL to the
    interpreted-HOF fold it replaces (A/B-asserted in tests against
    that fold; the SQL oracle is untouched either way). Cut the fit's
    wall time ~3× at sf0.1. int64 headroom: |coord| ≤ scale·|x|max, per-pos sums
    bounded by rows·scale·|x|max — cast up to DECIMAL in the agg if a
    corpus ever approaches 2⁶³ (guarded below)."""
    from pyspark import StorageLevel

    init = (
        init_codebooks
        if init_codebooks is not None
        else pq_sampled_codebooks(
            df, m=m, k=k, id_col=id_col, vec_col=vec_col
        )
    )
    dsub = len(init[0][0])
    import math

    cbs = [
        [
            [
                (
                    int(math.floor(abs(x) * scale + 0.5))
                    * (1 if x >= 0 else -1)
                )
                for x in cw
            ]
            for cw in cb
        ]
        for cb in init
    ]
    if n_iter == 0:  # seeds only — never materialize the frame
        return cbs

    iv = fixed_point_array(F.col(vec_col), scale)
    sub = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).cast("int").alias("s"),
                            F.slice(iv, s * dsub + 1, dsub).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # Single-partition sub frames (the local-mode shape; a real
        # corpus keeps the distributed loop) run ALL n_iter refinement
        # rounds inside one task (r13, same coordination-diet pattern
        # as kmeans_fit/_lloyd_all_iters_kernel). Every quantity in
        # the loop is an exact integer, so sums are order-free and the
        # in-task replay is bit-identical regardless of batch order —
        # one scheduled job instead of n_iter kernel+collect round
        # trips.
        if util.kernel_ok(sub.rdd.getNumPartitions(), 1):
            import pandas as pd  # noqa: F401 — worker-side import below

            cbs0 = [[list(cw) for cw in cb] for cb in cbs]
            mm, kk, nn = m, k, n_iter

            def _all_iters(it, _cb=cbs0):
                import numpy as np
                import pandas as pd

                parts: dict[int, list] = {}
                for pdf in it:
                    if not len(pdf):
                        continue
                    for s_val, grp in pdf.groupby("s"):
                        parts.setdefault(int(s_val), []).append(
                            np.stack(
                                [
                                    np.asarray(v, dtype=np.int64)
                                    for v in grp["sv"]
                                ]
                            )
                        )
                xcat = {
                    s: np.concatenate(v) for s, v in parts.items()
                }
                cur = [[list(cw) for cw in cb] for cb in _cb]
                for _ in range(nn):
                    new = [[list(cw) for cw in cb] for cb in cur]
                    for s, x in xcat.items():
                        c = np.array(cur[s], dtype=np.int64)
                        d = (
                            (x[:, None, :] - c[None, :, :]) ** 2
                        ).sum(-1)
                        jj = d.argmin(1)
                        for ju in np.unique(jj):
                            sel = x[jj == ju]
                            sums = sel.sum(0)
                            n_sel = int(sel.shape[0])
                            for pos in range(sel.shape[1]):
                                new[s][int(ju)][pos] = (
                                    _round_half_away_int(
                                        int(sums[pos]), n_sel
                                    )
                                )
                    cur = new
                yield pd.DataFrame(
                    {
                        "s": [
                            s
                            for s in range(mm)
                            for _ in range(kk * len(cur[s][0]))
                        ],
                        "j": [
                            j
                            for s in range(mm)
                            for j in range(kk)
                            for _ in range(len(cur[s][j]))
                        ],
                        "pos": [
                            p
                            for s in range(mm)
                            for j in range(kk)
                            for p in range(len(cur[s][j]))
                        ],
                        "val": [
                            int(v)
                            for s in range(mm)
                            for j in range(kk)
                            for v in cur[s][j]
                        ],
                    }
                )

            rows = sub.mapInPandas(
                _all_iters, schema="s int, j int, pos int, val long"
            ).collect()
            out = [[list(cw) for cw in cb] for cb in cbs]
            for r in rows:
                out[r["s"]][r["j"]][r["pos"]] = int(r["val"])
            return out

        for _ in range(n_iter):
            if util.kernel_ok():
                import numpy as np
                import pandas as pd

                cb_arrs = {
                    s: [list(cw) for cw in cbs[s]] for s in range(m)
                }

                def _partials(it, _cb=cb_arrs):
                    cmats = {
                        s: np.array(rows_, dtype=np.int64)
                        for s, rows_ in _cb.items()
                    }
                    for pdf in it:
                        if not len(pdf):
                            continue
                        cols = {
                            "s": [], "j": [], "pos": [],
                            "sv_sum": [], "n": [],
                        }
                        for s_val, grp in pdf.groupby("s"):
                            x = np.stack(
                                [
                                    np.asarray(v, dtype=np.int64)
                                    for v in grp["sv"]
                                ]
                            )
                            c = cmats[int(s_val)]
                            # exact int64 distances; argmin = first
                            # (lowest-index) minimum, the fold's tie
                            d = (
                                (x[:, None, :] - c[None, :, :]) ** 2
                            ).sum(-1)
                            jj = d.argmin(1)
                            for ju in np.unique(jj):
                                sel = x[jj == ju]
                                sums = sel.sum(0)
                                for pos in range(sel.shape[1]):
                                    cols["s"].append(int(s_val))
                                    cols["j"].append(int(ju))
                                    cols["pos"].append(pos)
                                    cols["sv_sum"].append(
                                        int(sums[pos])
                                    )
                                    cols["n"].append(
                                        int(sel.shape[0])
                                    )
                        yield pd.DataFrame(cols)

                assigned = sub.mapInPandas(
                    _partials,
                    schema="s int, j int, pos int, sv_sum long, n long",
                )
            else:
                assign = None
                for s in range(m):
                    cands = F.array(
                        *[
                            F.array(*[F.lit(int(x)) for x in cw])
                            for cw in cbs[s]
                        ]
                    )
                    dists = F.transform(
                        cands,
                        lambda cw: F.aggregate(
                            F.zip_with(
                                F.col("sv"),
                                cw,
                                lambda a, b: (a - b) * (a - b),
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, x: acc + x,
                        ),
                    )
                    j = (
                        F.array_position(dists, F.array_min(dists)) - 1
                    ).cast("int")
                    assign = (
                        F.when(F.col("s") == s, j)
                        if assign is None
                        else assign.when(F.col("s") == s, j)
                    )
                assigned = (
                    sub.withColumn("j", assign)
                    .select(
                        "s", "j", F.posexplode("sv").alias("pos", "val")
                    )
                    .groupBy("s", "j", "pos")
                    .agg(
                        F.sum("val").alias("sv_sum"),
                        F.count(F.lit(1)).alias("n"),
                    )
                )
            upd = (
                assigned.groupBy("s", "j", "pos")
                .agg(
                    F.sum("sv_sum").alias("sv_sum"),
                    F.sum("n").alias("n"),
                )
                .collect()
            )
            new = [[list(cw) for cw in cb] for cb in cbs]
            for r in upd:
                new[r["s"]][r["j"]][r["pos"]] = _round_half_away_int(
                    int(r["sv_sum"]), int(r["n"])
                )
            cbs = new
        return cbs
    finally:
        sub.unpersist()


def ivf_fp_certificate(
    df: DataFrame,
    probe: list[float],
    *,
    k_clusters: int = 8,
    nprobe: int = 2,
    topk: int = 10,
    n_iter: int = 3,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ENGINE-EXACT IVF retrieval certificate (round 11) — the
    fixed-point twin of the rows-only ``x4_kmeans_ivf``, built the way
    the integer Lloyd unroll converted the PQ family: the coarse
    quantizer is :func:`pq_learned_codebooks_fp` with ONE subspace
    (m=1 ⇒ plain k-means on the full vector, every quantity int64),
    assignment and probe routing are exact integer distances with
    lowest-index ties, and the final ranking is exact int64 L2 — so
    the fitted centroids, the probed clusters, the candidate set, and
    the returned top-k replay bit-for-bit in the unrolled-Lloyd SQL
    oracle. The float ``x4_kmeans_ivf`` stays as the
    production-shaped differential twin; this row is its value-hash
    anchor.

    Returns ``topk`` rows: (rank, vec_id, d2 — the int64 squared
    distance at ``scale`` fixed point, hit — membership in the exact
    brute-force top-k, n_candidates — how much of the corpus the
    probe actually scanned, the IVF trade made visible).

    Scale shape: the fit is the PQ operator's (one persisted exploded
    frame, k·d integer partials per iteration); assignment is one
    codegen pass; candidates filter to ``nprobe`` clusters BEFORE any
    ranking, and both rankings are TakeOrdered-shaped windows.
    """
    if nprobe < 1 or nprobe > k_clusters:
        raise ValueError("need 1 <= nprobe <= k_clusters")
    cbs = pq_learned_codebooks_fp(
        df, m=1, k=k_clusters, n_iter=n_iter, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    cents = cbs[0]  # k centroids of d ints each
    pfix = [
        int(x * scale + 0.5) if x >= 0 else -int(-x * scale + 0.5)
        for x in probe
    ]
    # probe routing happens on the driver over k model-sized rows
    pdists = [
        (sum((pfix[i] - cw[i]) ** 2 for i in range(len(pfix))), j)
        for j, cw in enumerate(cents)
    ]
    probed = sorted(pdists)[:nprobe]
    probed_js = [j for _, j in probed]

    iv = fixed_point_array(F.col(vec_col), scale)
    cands_lit = F.array(
        *[F.array(*[F.lit(int(x)) for x in cw]) for cw in cents]
    )
    cdists = F.transform(
        cands_lit,
        lambda cw: F.aggregate(
            F.zip_with(F.col("__iv"), cw, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ),
    )
    assign = (F.array_position(cdists, F.array_min(cdists)) - 1).cast(
        "int"
    )
    plit = F.array(*[F.lit(int(v)) for v in pfix])
    d2 = F.aggregate(
        F.zip_with(F.col("__iv"), plit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    base = df.select(
        F.col(id_col).alias("__id"), iv.alias("__iv")
    ).select("__id", "__iv", assign.alias("__j"), d2.alias("__d2"))
    base = base.localCheckpoint(eager=True)
    rk = F.row_number().over(W.partitionBy().orderBy("__d2", "__id"))
    exact = (
        base.withColumn("__rk", rk)
        .filter(F.col("__rk") <= topk)
        .select("__id")
    )
    cand = base.filter(F.col("__j").isin(*probed_js))
    nc = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    ivf = (
        cand.withColumn("__rk", rk)
        .filter(F.col("__rk") <= topk)
        .select(
            F.col("__rk").cast("long").alias("rank"),
            F.col("__id").alias(id_col),
            F.col("__d2").alias("d2"),
        )
    )
    return (
        ivf.join(
            exact.select(F.col("__id").alias(id_col)).withColumn(
                "hit", F.lit(True)
            ),
            id_col,
            "left",
        )
        .crossJoin(nc)
        .select(
            "rank",
            id_col,
            "d2",
            F.coalesce("hit", F.lit(False)).alias("hit"),
            "n_candidates",
        )
        .orderBy("rank")
    )


def pq_anisotropic_report(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    t: float = 0.2,
) -> DataFrame:
    """Score-aware (anisotropic) quantization-loss decomposition —
    the ScaNN diagnostic (Guo et al. 2020, "Accelerating Large-Scale
    Inference with Anisotropic Vector Quantization"): split each
    vector's PQ reconstruction error into the component PARALLEL to
    the vector and the ORTHOGONAL remainder. Inner-product retrieval
    only suffers from the parallel part on high-scoring pairs, so a
    codebook whose parallel share exceeds the isotropic baseline
    (1/d) is losing recall it could trade for more orthogonal error —
    the measurement that says whether anisotropic training (or just
    OPQ) would pay before anyone re-trains a codebook.

    Per vector (pure codegen, no shuffle until the final fold): each
    subspace's argmin codeword comes from one ``array_min`` over a
    ``(dist, j, dot)`` struct array against broadcast literal
    codebooks (same kernel as ``pq_codes``); r·x, |r|², |x|² assemble
    from per-subspace partials in fixed index order; the corpus then
    folds ONCE to a single report row with 6dp-rounded DECIMAL sums
    (engine-exact means). ``loss_at_t`` is the ScaNN surrogate
    w·η∥ + η⊥ with w = (d−1)·t²/(1−t²).

    Reference for parity: the reference engine stores raw vectors
    only (core/migrator.py loop) — this is extension surface.
    """
    v = F.col(vec_col).cast("array<double>")
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    d = m * dsub
    par_sq_num = None  # (r.x) built as Σ_s (c_s.x_s - |x_s|^2)
    rsq = None
    xsq = None
    for s in range(m):
        sub = F.slice(v, s * dsub + 1, dsub)
        cands = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in cw])
                for cw in codebooks[s]
            ]
        )
        idx = F.array(
            *[F.lit(j).cast("int") for j in range(len(codebooks[s]))]
        )
        scored = F.zip_with(
            cands,
            idx,
            lambda c, j: F.struct(
                F.aggregate(
                    F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                j.alias("j"),
                F.aggregate(
                    F.zip_with(sub, c, lambda a, b: (b - a) * a),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dot"),
            ),
        )
        best = F.array_min(scored)
        sub_xsq = F.aggregate(
            sub, F.lit(0.0), lambda acc, x: acc + x * x
        )
        rsq = best["dist"] if rsq is None else rsq + best["dist"]
        par_sq_num = (
            best["dot"] if par_sq_num is None else par_sq_num + best["dot"]
        )
        xsq = sub_xsq if xsq is None else xsq + sub_xsq
    eta_par = F.when(xsq > 0, par_sq_num * par_sq_num / xsq).otherwise(
        F.lit(0.0)
    )
    per_vec = df.select(
        F.round(rsq, 6).cast("decimal(28,6)").alias("__rsq"),
        F.round(eta_par, 6).cast("decimal(28,6)").alias("__par"),
    )
    w = (d - 1) * t * t / (1.0 - t * t)
    agg = per_vec.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("__rsq").cast("double") / F.count(F.lit(1))).alias("__mt"),
        (F.sum("__par").cast("double") / F.count(F.lit(1))).alias("__mp"),
    )
    return agg.select(
        "n",
        F.round(F.col("__mt"), 6).alias("mse_total"),
        F.round(F.col("__mp"), 6).alias("mse_parallel"),
        F.round(F.col("__mt") - F.col("__mp"), 6).alias("mse_orthogonal"),
        F.round(F.try_divide(F.col("__mp"), F.col("__mt")), 6).alias(
            "parallel_share"
        ),
        F.round(F.lit(1.0 / d), 6).alias("isotropic_share"),
        F.round(
            F.try_divide(F.col("__mp"), F.col("__mt")) * F.lit(float(d)),
            6,
        ).alias("anisotropy_factor"),
        F.round(
            F.lit(w) * F.col("__mp")
            + (F.col("__mt") - F.col("__mp")),
            6,
        ).alias("loss_at_t"),
    )


def soar_ivf_recall_report(
    df: DataFrame,
    probe: list[float],
    *,
    cluster_col: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SOAR-style multi-assignment IVF recall certificate (Sun et al.
    2023, "SOAR: Improved Indexing for Approximate Nearest Neighbor
    Search" — the ScaNN spilling idea): every vector is assigned to
    its TWO nearest coarse centroids instead of one, so a probe that
    searches a single posting list (nprobe=1) still finds neighbors
    whose primary centroid was a near-miss. This report measures
    exactly that trade: recall@k and rows-scanned of nprobe=1 search
    under single vs double assignment, against the brute-force truth.

    Spilling buys recall with REPLICATED STORAGE (≤2× postings)
    instead of extra probes — the right trade at 100 TB when the
    scan is partition-pruned (each posting list is a directory; a
    probe still opens exactly one) and latency is probe-bound.

    Determinism: assignment ranks round cosine to 9 decimals with
    cluster-ascending tie-break; truth ranks round to 6 with id
    tie-break (the corpus-wide ``cosine_topk`` convention) — both
    engine-portable, so the whole report carries a full SQL oracle.

    Scale shape: centroids are model-sized (broadcast); assignment is
    one scan × nlist broadcast join with a per-vector top-2 window on
    (id, cluster, sim) partials; the assignment frame (2 rows/vector
    — it IS the index build, materialized once) is the only thing
    rescanned per mode; truth is one TakeOrderedAndProject.
    """
    p = probe_literal(probe)
    cent = ivf_build_centroids(df, cluster_col=cluster_col, vec_col=vec_col)
    best = (
        cent.select(
            "cluster",
            F.round(cosine_similarity(F.col("centroid"), p), 9).alias(
                "csim"
            ),
        )
        .orderBy(F.desc("csim"), "cluster")
        .limit(1)
        .select(F.col("cluster").alias("best_cluster"))
    )
    vsim = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .crossJoin(F.broadcast(cent))
        .select(
            id_col,
            "cluster",
            F.round(
                cosine_similarity(F.col("__v"), F.col("centroid")), 9
            ).alias("sim"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.desc("sim"), F.col("cluster"))
    )
    assign = (
        vsim.withColumn("rk", rk)
        .filter(F.col("rk") <= 2)
        .select(id_col, "cluster", "rk")
        .localCheckpoint(eager=True)
    )
    truth = cosine_topk(df, probe, k=k, id_col=id_col, vec_col=vec_col).select(
        id_col
    )

    def mode_stats(max_rank: int, name: str) -> DataFrame:
        scanned = assign.filter(
            (F.col("rk") <= max_rank)
        ).join(F.broadcast(best), F.col("cluster") == F.col("best_cluster"))
        n = scanned.agg(F.count("*").cast("long").alias("n_scanned"))
        h = (
            scanned.join(truth, id_col, "left_semi")
            .agg(F.count("*").cast("long").alias("n_hits"))
        )
        return n.crossJoin(h).select(
            F.lit(name).alias("mode"),
            "n_scanned",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 6).alias("recall"),
        )

    return (
        mode_stats(1, "single")
        .unionByName(mode_stats(2, "double"))
        .orderBy("mode")
    )


def rvq_error_report(
    df: DataFrame,
    *,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual vector quantization (RVQ) error ladder — the ADDITIVE
    codec family (SoundStream/Encodec's quantizer; the alternative to
    PQ's subspace split): stage 1 snaps the FULL vector to its
    nearest codeword, stage 2 quantizes what stage 1 left behind, and
    errors fall stage over stage because later codebooks model the
    residual distribution directly. Reports per-stage corpus
    mean/max squared reconstruction error — the ladder a codec owner
    reads to decide how many stages the recall budget needs.

    Deterministic from the data alone (so an external SQL oracle can
    rebuild it, like ``pq_sampled_codebooks``): stage-1 codewords are
    the ``k`` lowest-id vectors; stage-2 codewords are the ZERO
    vector (the "no correction" option — it makes the ladder
    monotone BY CONSTRUCTION, stage-2 error ≤ stage-1) plus the
    residuals of the NEXT ``k−1`` lowest-id rows under stage 1
    (computed driver-side with the identical argmin/arithmetic the
    engine uses — ties to the lowest codeword index; the stage-1
    seed rows themselves have zero residuals and would degenerate).
    A Lloyd-refined codebook per stage plugs into the same encode
    path when recall matters more than simplicity.

    Scale shape: both codebooks are driver-sized literals (2·k
    codewords); encoding is pure codegen (a fold per codeword over
    the broadcast literal), and the report is one tiny aggregate —
    at 100 TB the materialized artifact is 2 bytes/vector of codes.
    """
    rows = (
        df.filter(F.col(id_col) < 2 * k - 1)
        .orderBy(id_col)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    vecs = [[float(x) for x in r[0]] for r in rows]
    if len(vecs) != 2 * k - 1:
        raise ValueError(
            f"need ids 0..{2 * k - 2} present to seed the codebooks"
        )
    cb1 = vecs[:k]

    def py_sqd(a, b):
        s = 0.0
        for x, y in zip(a, b):
            d = x - y
            s += d * d
        return s

    dim = len(cb1[0])
    cb2 = [[0.0] * dim]
    for v in vecs[k:]:
        dists = [py_sqd(v, c) for c in cb1]
        j = dists.index(min(dists))
        cb2.append([x - y for x, y in zip(v, cb1[j])])

    def lit_cb(cb):
        return F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(repr(float(x)) + "D" for x in cw) + ")"
                for cw in cb
            )
            + ")"
        )

    v = F.col(vec_col).cast("array<double>")

    def dl(vec, cb_lit):
        return F.transform(
            cb_lit,
            lambda c: F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    d1l = dl(v, lit_cb(cb1))
    base = df.select(
        v.alias("__v"),
        d1l.alias("__d1l"),
    ).select(
        F.array_min("__d1l").alias("d1"),
        F.zip_with(
            F.col("__v"),
            F.element_at(
                lit_cb(cb1),
                (
                    F.array_position(
                        F.col("__d1l"), F.array_min("__d1l")
                    )
                ).cast("int"),
            ),
            lambda a, b: a - b,
        ).alias("__r"),
    )
    d2 = F.array_min(dl(F.col("__r"), lit_cb(cb2)))
    per = base.select("d1", d2.alias("d2"))
    s1 = per.agg(
        F.lit(1).cast("int").alias("stage"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("d1"), 6).alias("mse_mean"),
        F.round(F.max("d1"), 6).alias("mse_max"),
    )
    s2 = per.agg(
        F.lit(2).cast("int").alias("stage"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("d2"), 6).alias("mse_mean"),
        F.round(F.max("d2"), 6).alias("mse_max"),
    )
    return s1.unionByName(s2).orderBy("stage")



def _kg_sample(
    df: DataFrame,
    probe: list[float],
    *,
    sample_size: int,
    id_col: str,
    vec_col: str,
    scale: int,
    seed: int,
    checkpoint: bool = True,
) -> DataFrame:
    """The md5-rank node sample with int64 fixed-point coordinates and
    probe distances — (__id, __x, __qd). ``checkpoint=False`` keeps it
    lazy for the single-pass kernel path (r13), which consumes it
    exactly once."""
    pfix = [
        int(x * scale + 0.5) if x >= 0 else -int(-x * scale + 0.5)
        for x in probe
    ]
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":kg:{seed}")))
    xint = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.when(x >= 0, F.floor(x * scale + F.lit(0.5)))
        .otherwise(-F.floor(-x * scale + F.lit(0.5)))
        .cast("long"),
    )
    plit = F.array(*[F.lit(v).cast("long") for v in pfix])
    qd = F.aggregate(
        F.zip_with(F.col("__x"), plit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    samp = (
        df.select(F.col(id_col).alias("__id"), xint.alias("__x"), key.alias("__k"))
        .orderBy("__k", "__id")
        .limit(sample_size)
        .select("__id", "__x", qd.alias("__qd"))
    )
    return samp.localCheckpoint(eager=True) if checkpoint else samp


def _kg_sample_one_row(samp: DataFrame) -> DataFrame:
    """Fold the bounded sample into ONE row of id-ascending parallel
    arrays (ids, xs, qds) — the kcenter/facility_location single-row
    kernel pattern (r13, guide §2.4/§4.2): the whole walk then runs in
    one Arrow-batched task with zero per-hop jobs. collect_list order
    is not a contract, so the layout re-sorts explicitly by id."""
    one = samp.agg(
        F.collect_list("__id").alias("ids"),
        F.collect_list("__x").alias("xs"),
        F.collect_list("__qd").alias("qds"),
    )
    z = F.array_sort(
        F.arrays_zip(
            F.col("ids").alias("i"), F.col("xs").alias("x"), F.col("qds").alias("q")
        )
    )
    return one.select(
        F.transform(z, lambda s: s["i"]).alias("ids"),
        F.transform(z, lambda s: s["x"]).alias("xs"),
        F.transform(z, lambda s: s["q"]).alias("qds"),
    )


def _kg_python_graph(ids, xs, *, degree: int):
    """Exact k-NN adjacency over the sampled nodes in NumPy int64 —
    the kernel-side twin of the broadcast self-join in
    :func:`_knn_graph_sample_edges`: identical exact squared
    distances, identical (distance, dst-id) edge ordering (ids arrive
    ascending, so ordinal order IS id order), top-``degree`` outgoing
    edges per node, one source row at a time (O(n·d) memory). Returns
    ``adj[src_ordinal] = [dst ordinals]``."""
    import numpy as np

    n = len(ids)
    x = np.asarray([np.asarray(v, dtype=np.int64) for v in xs])
    deg = min(degree, n - 1)
    sec = np.arange(n)
    adj = []
    for i in range(n):
        diff = x - x[i]
        d = (diff * diff).sum(axis=1)
        d[i] = np.iinfo(np.int64).max
        adj.append([int(j) for j in np.lexsort((sec, d))[:deg]])
    return adj


def _kg_salt_order(ids, salt: str):
    """Ordinals sorted by (md5(f"{id}{salt}"), id) — hashlib hexdigest
    equals Spark's ``F.md5`` lowercase hex, so this replays every
    md5-rank selection (entries, PQ codebook rows) bit-for-bit."""
    import hashlib

    return sorted(
        range(len(ids)),
        key=lambda o: (
            hashlib.md5(f"{ids[o]}{salt}".encode()).hexdigest(),
            ids[o],
        ),
    )


def _knn_graph_sample_edges(
    df: DataFrame,
    probe: list[float],
    *,
    degree: int,
    sample_size: int,
    id_col: str,
    vec_col: str,
    scale: int,
    seed: int,
):
    """Shared build for the graph-ANN certificates: the md5-rank node
    sample with int64 fixed-point coordinates and probe distances,
    and the exact k-NN graph over it (broadcast self-join, top-degree
    outgoing edges per node by (distance, dst id)). Both frames are
    localCheckpointed — the sample is scanned once, the graph is the
    index build materialized once."""
    samp = _kg_sample(
        df, probe, sample_size=sample_size, id_col=id_col,
        vec_col=vec_col, scale=scale, seed=seed,
    )
    b = F.broadcast(
        samp.select(F.col("__id").alias("dst"), F.col("__x").alias("__xb"))
    )
    pair_d = F.aggregate(
        F.zip_with(F.col("__x"), F.col("__xb"), lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    erk = F.row_number().over(
        W.partitionBy("src").orderBy("__d", "dst")
    )
    edges = (
        samp.select(F.col("__id").alias("src"), "__x")
        .join(b, F.col("src") != F.col("dst"))
        .select("src", "dst", pair_d.alias("__d"))
        .withColumn("__rk", erk)
        .filter(F.col("__rk") <= degree)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    return samp, edges


def knn_graph_beam_recall(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    degree: int = 6,
    beam_width: int = 8,
    hops: int = 3,
    report_hops: tuple | None = None,
    n_entries: int = 2,
    sample_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    seed: int = 7,
) -> DataFrame:
    """Graph-ANN recall certificate (round 10) — the HNSW/NSW family
    every modern vector DB defaults to, reduced to its testable core:
    build an exact k-NN GRAPH over a bounded node set, greedy
    BEAM-SEARCH route a probe through it from fixed entry points, and
    report recall@k against the exact truth plus the visited-node
    count — the structural trade (recall bought by walking a fraction
    of the graph instead of scanning everything) that graph indexes
    exist for.

    Determinism by construction (the kcenter/rabitq recipe): nodes
    are a fixed md5-rank sample, coordinates quantize to int64 fixed
    point at ``scale``, ALL distances are exact int64 squared L2, and
    every ranking breaks ties by ascending id — so graph edges, the
    beam trajectory, and the final top-k replay bit-for-bit on any
    engine (full SQL oracle via hop-unrolled CTEs).

    Semantics per hop ``t``: candidates = beam ∪ out-neighbors(beam);
    beam = the ``beam_width`` candidates nearest the probe (beam is
    re-ranked WITH its expansions, so the best-so-far never drops).
    Entry points are the ``n_entries`` smallest md5 ranks under an
    independent salt. ``n_visited`` counts distinct nodes whose
    probe-distance the walk evaluated (entries + every expansion).

    Scale shape: the O(n²) graph build runs on the bounded sample
    (broadcast self-join — at 100 TB graph construction is its own
    blocked/recursive pipeline; this certificate verifies the ROUTING
    math); each hop is one broadcast join + one top-B window over
    at most beam·(degree+1) rows; ``hops`` is a fixed unroll, so the
    whole walk is one declarative plan — zero driver loops over data.

    Returns one row per reported depth — (n_nodes, n_edges,
    n_entries, beam_width, hops, n_visited, n_hits, recall_at_k) —
    for each ``t`` in ``report_hops`` (default: just ``hops``). The
    walk runs ONCE to max depth and snapshots at the reported hops
    (a beam at depth 4 extends the depth-2 beam, so snapshots of one
    walk equal independent shorter walks), giving the
    recall-vs-visited curve for the cost of the deepest walk.
    """
    if hops < 1 or beam_width < 1 or degree < 1:
        raise ValueError("need hops, beam_width, degree >= 1")
    report = tuple(report_hops) if report_hops else (hops,)
    if any(t < 0 or t > hops for t in report):
        raise ValueError("report_hops must lie in [0, hops]")
    if util.kernel_ok():
        # r13 opt (guide §2.4, r12-verdict #8): the sample is bounded
        # (sample_size rows), so the graph build + the whole beam walk
        # run inside ONE Arrow-batched kernel over a single folded row
        # — the facility_location pattern — instead of per-hop
        # broadcast-join jobs, checkpoints, and a 3-branch snapshot
        # plan. Every quantity is the same exact int64 / md5-rank math
        # (A/B-asserted against the declarative path in tests).
        one = _kg_sample_one_row(
            _kg_sample(
                df, probe, sample_size=sample_size, id_col=id_col,
                vec_col=vec_col, scale=scale, seed=seed, checkpoint=False,
            )
        )

        def kern(batches):
            import pandas as pd

            from vectordb_migrator_spark.operators.similarity import (
                _kg_python_graph,
                _kg_salt_order,
            )

            for pdf in batches:
                for _, row in pdf.iterrows():
                    ids = [int(v) for v in row["ids"]]
                    qds = [int(v) for v in row["qds"]]
                    adj = _kg_python_graph(ids, row["xs"], degree=degree)
                    n = len(ids)
                    n_edges = sum(len(a) for a in adj)

                    def okey(o):
                        return (qds[o], ids[o])

                    truth = set(sorted(range(n), key=okey)[:k])
                    beam = _kg_salt_order(ids, f":kgentry:{seed}")[:n_entries]
                    visited = set(beam)
                    rows = []

                    def snap(t, beam_t):
                        hits = len(set(sorted(beam_t, key=okey)[:k]) & truth)
                        rows.append(
                            {
                                "n_nodes": n,
                                "n_edges": n_edges,
                                "n_entries": n_entries,
                                "beam_width": beam_width,
                                "hops": t,
                                "n_visited": len(visited),
                                "n_hits": hits,
                            }
                        )

                    if 0 in report:
                        snap(0, beam)
                    for t in range(1, hops + 1):
                        expand = {d for s in beam for d in adj[s]}
                        visited |= expand
                        beam = sorted(set(beam) | expand, key=okey)[
                            :beam_width
                        ]
                        if t in report:
                            snap(t, beam)
                    yield pd.DataFrame(rows)

        out = one.mapInPandas(
            kern,
            schema=(
                "n_nodes long, n_edges long, n_entries long, "
                "beam_width long, hops long, n_visited long, "
                "n_hits long"
            ),
        )
        # the rounded ratio is computed by the SAME Spark expression
        # as the declarative path (HALF_UP semantics — Python round is
        # banker's and diverges on exact .5 ties)
        return out.withColumn(
            "recall_at_k", F.round(F.col("n_hits") / F.lit(float(k)), 6)
        ).orderBy("hops")
    samp, edges = _knn_graph_sample_edges(
        df, probe, degree=degree, sample_size=sample_size,
        id_col=id_col, vec_col=vec_col, scale=scale, seed=seed,
    )
    ekey = F.md5(
        F.concat(F.col("__id").cast("string"), F.lit(f":kgentry:{seed}"))
    )
    beam = (
        samp.select("__id", "__qd", ekey.alias("__e"))
        .orderBy("__e", "__id")
        .limit(n_entries)
        .select("__id", "__qd")
    )
    nodes = samp.select("__id", "__qd")
    visited = beam
    brk = F.row_number().over(W.partitionBy().orderBy("__qd", "__id"))
    truth = (
        nodes.withColumn("__rk", brk).filter(F.col("__rk") <= k).select("__id")
    )
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    nn = samp.agg(F.count("*").cast("long").alias("n_nodes"))

    def snapshot(t: int, beam_t: DataFrame, visited_t: DataFrame) -> DataFrame:
        result = (
            beam_t.withColumn("__rk", brk)
            .filter(F.col("__rk") <= k)
            .select("__id")
        )
        hits = result.join(truth, "__id", "left_semi").agg(
            F.count("*").cast("long").alias("n_hits")
        )
        nv = visited_t.select("__id").distinct().agg(
            F.count("*").cast("long").alias("n_visited")
        )
        return (
            nn.crossJoin(ne)
            .crossJoin(nv)
            .crossJoin(hits)
            .select(
                "n_nodes",
                "n_edges",
                F.lit(n_entries).cast("long").alias("n_entries"),
                F.lit(beam_width).cast("long").alias("beam_width"),
                F.lit(t).cast("long").alias("hops"),
                "n_visited",
                "n_hits",
                F.round(F.col("n_hits") / F.lit(float(k)), 6).alias(
                    "recall_at_k"
                ),
            )
        )

    out = snapshot(0, beam, visited) if 0 in report else None
    for t in range(1, hops + 1):
        expand = (
            beam.select(F.col("__id").alias("src"))
            .join(F.broadcast(edges), "src")
            .select(F.col("dst").alias("__id"))
            .join(F.broadcast(nodes), "__id")
            .select("__id", "__qd")
        )
        visited = visited.unionByName(expand)
        beam = (
            beam.unionByName(expand)
            .distinct()
            .withColumn("__rk", brk)
            .filter(F.col("__rk") <= beam_width)
            .select("__id", "__qd")
        )
        # truncate lineage: each hop nests a union+distinct+window
        # under the last, and past a few hops Catalyst re-analysis of
        # the deepening plan dominates the (tiny) data work. The
        # frames are beam-sized, so checkpointing is cheap.
        if t % 3 == 0 and t < hops:
            beam = beam.localCheckpoint(eager=True)
            visited = visited.localCheckpoint(eager=True)
        if t in report:
            snap = snapshot(t, beam, visited)
            out = snap if out is None else out.unionByName(snap)
    return out.orderBy("hops")


def graph_pq_route_recall(
    df: DataFrame,
    probe: list[float],
    *,
    k: int = 10,
    degree: int = 6,
    beam_width: int = 12,
    hops: int = 4,
    n_entries: int = 2,
    sample_size: int = 192,
    m: int = 4,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    seed: int = 7,
) -> DataFrame:
    """DiskANN-flavored hybrid routing certificate (round 11): beam
    search over the k-NN graph routed by PQ-ADC APPROXIMATE distances
    with an EXACT rerank of the final beam — the way every modern
    disk-resident graph index (DiskANN/Vamana, HNSW+PQ) actually runs
    at 100 TB: full vectors live on disk, the walk steers by
    in-memory PQ codes, and only the final beam pays exact-distance
    I/O. The certificate runs the PQ-routed walk AND the exact-routed
    twin at the same beam width over the same graph, reporting
    recall@k and visited counts side by side — the quality cost of
    approximate routing, isolated from the graph itself.

    Determinism by construction (the knn_graph recipe extended to the
    quantizer): md5-rank node sample, int64 fixed-point coordinates,
    codebooks = the first ``pq_k`` sample rows under an independent
    md5 salt (sub-sliced per subspace), PQ codes by exact int64
    subvector argmin (ties -> lowest codeword index), ADC lookup
    table from exact int64 probe-to-codeword distances, and every
    ranking tie-broken by ascending id — so codes, the ADC estimate,
    both beam trajectories, and the reranked top-k replay bit-for-bit
    in the hop-unrolled SQL oracle.

    Scale shape: codebooks are a model-sized driver collect (pq_k
    rows); PQ codes + the per-node ADC estimate are ONE codegen pass
    over the sample, localCheckpointed so hops re-join a materialized
    frame; each hop is a broadcast join + a top-B window over at most
    beam·(degree+1) rows; the fixed ``hops`` unroll keeps the whole
    walk declarative (zero driver loops over data).

    Returns two rows — route ∈ ('exact', 'pq_adc') — with (n_nodes,
    n_edges, m, pq_k, beam_width, hops, n_visited, n_hits,
    recall_at_k), where the pq_adc row's top-k is the exact rerank of
    its final beam.
    """
    if hops < 1 or beam_width < 1 or degree < 1:
        raise ValueError("need hops, beam_width, degree >= 1")
    d = len(probe)
    if d % m:
        raise ValueError("m must divide the probe dimension")
    if sample_size < pq_k:
        raise ValueError("sample smaller than pq_k")
    dsub = d // m
    if util.kernel_ok():
        # r13 opt (guide §2.4, r12-verdict #5/#8): graph build, PQ
        # encode, ADC table, BOTH routed walks and the exact rerank
        # all run in ONE Arrow-batched kernel over the folded sample
        # row — replacing the per-stage eager checkpoints, the driver
        # codebook collect, and per-hop broadcast joins. Identical
        # exact-int64 / md5-rank math, A/B-asserted in tests.
        pfix_k = [
            int(x * scale + 0.5) if x >= 0 else -int(-x * scale + 0.5)
            for x in probe
        ]
        one = _kg_sample_one_row(
            _kg_sample(
                df, probe, sample_size=sample_size, id_col=id_col,
                vec_col=vec_col, scale=scale, seed=seed, checkpoint=False,
            )
        )

        def kern(batches):
            import numpy as np
            import pandas as pd

            from vectordb_migrator_spark.operators.similarity import (
                _kg_python_graph,
                _kg_salt_order,
            )

            for pdf in batches:
                for _, row in pdf.iterrows():
                    ids = [int(v) for v in row["ids"]]
                    qds = [int(v) for v in row["qds"]]
                    x = np.asarray(
                        [np.asarray(v, dtype=np.int64) for v in row["xs"]]
                    )
                    adj = _kg_python_graph(ids, row["xs"], degree=degree)
                    n = len(ids)
                    n_edges = sum(len(a) for a in adj)
                    cb_ord = _kg_salt_order(ids, f":pqcb:{seed}")[:pq_k]
                    if len(cb_ord) < pq_k:
                        raise ValueError("sample smaller than pq_k")
                    p = np.asarray(pfix_k, dtype=np.int64)
                    ad = np.zeros(n, dtype=np.int64)
                    for s in range(m):
                        lo, hi = s * dsub, (s + 1) * dsub
                        cb = x[cb_ord, lo:hi]  # pq_k × dsub codewords
                        dd = ((x[:, None, lo:hi] - cb[None, :, :]) ** 2).sum(
                            axis=2
                        )
                        j = dd.argmin(axis=1)  # first min = lowest index
                        adc = ((p[lo:hi][None, :] - cb) ** 2).sum(axis=1)
                        ad += adc[j]
                    ads = [int(v) for v in ad]

                    def qkey(o):
                        return (qds[o], ids[o])

                    truth = set(sorted(range(n), key=qkey)[:k])
                    entries = _kg_salt_order(ids, f":kgentry:{seed}")[
                        :n_entries
                    ]

                    def walk(key):
                        beam, visited = list(entries), set(entries)
                        for _t in range(hops):
                            expand = {dd for s_ in beam for dd in adj[s_]}
                            visited |= expand
                            beam = sorted(set(beam) | expand, key=key)[
                                :beam_width
                            ]
                        return beam, visited

                    rows = []
                    for route, key in (
                        ("exact", qkey),
                        ("pq_adc", lambda o: (ads[o], ids[o])),
                    ):
                        beam, visited = walk(key)
                        # exact rerank of the final beam
                        hits = len(
                            set(sorted(beam, key=qkey)[:k]) & truth
                        )
                        rows.append(
                            {
                                "route": route,
                                "n_nodes": n,
                                "n_edges": n_edges,
                                "m": m,
                                "pq_k": pq_k,
                                "beam_width": beam_width,
                                "hops": hops,
                                "n_visited": len(visited),
                                "n_hits": hits,
                            }
                        )
                    yield pd.DataFrame(rows)

        out = one.mapInPandas(
            kern,
            schema=(
                "route string, n_nodes long, n_edges long, m int, "
                "pq_k int, beam_width long, hops long, n_visited long, "
                "n_hits long"
            ),
        )
        # rounded ratio via the same Spark HALF_UP expression as the
        # declarative path (Python round is banker's)
        return out.withColumn(
            "recall_at_k", F.round(F.col("n_hits") / F.lit(float(k)), 6)
        ).orderBy("route")
    samp, edges = _knn_graph_sample_edges(
        df, probe, degree=degree, sample_size=sample_size,
        id_col=id_col, vec_col=vec_col, scale=scale, seed=seed,
    )
    # codebooks: first pq_k sample rows under an independent salt,
    # codeword j of subspace s = that row's s-th subvector (int64)
    cbk = F.md5(
        F.concat(F.col("__id").cast("string"), F.lit(f":pqcb:{seed}"))
    )
    cb_rows = (
        samp.select("__id", "__x", cbk.alias("__c"))
        .orderBy("__c", "__id")
        .limit(pq_k)
        .collect()
    )
    if len(cb_rows) < pq_k:
        raise ValueError("sample smaller than pq_k")
    codebooks = [
        [list(r["__x"][s * dsub : (s + 1) * dsub]) for r in cb_rows]
        for s in range(m)
    ]
    pfix = [
        int(x * scale + 0.5) if x >= 0 else -int(-x * scale + 0.5)
        for x in probe
    ]
    adc = [
        [
            sum(
                (pfix[s * dsub + i] - cw[i]) ** 2 for i in range(dsub)
            )
            for cw in codebooks[s]
        ]
        for s in range(m)
    ]
    # one codegen pass: PQ-encode each node and look up its ADC
    # distance estimate (exact ints end to end)
    ad = None
    for s in range(m):
        cands = F.array(
            *[
                F.array(*[F.lit(int(x)) for x in cw])
                for cw in codebooks[s]
            ]
        )
        sv = F.slice(F.col("__x"), s * dsub + 1, dsub)
        dists = F.transform(
            cands,
            lambda cw: F.aggregate(
                F.zip_with(sv, cw, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ),
        )
        j = F.array_position(dists, F.array_min(dists)).cast("int")
        term = F.element_at(
            F.array(*[F.lit(int(v)) for v in adc[s]]), j
        )
        ad = term if ad is None else ad + term
    nodes = samp.select(
        "__id", "__qd", ad.cast("long").alias("__ad")
    ).localCheckpoint(eager=True)

    ekey = F.md5(
        F.concat(F.col("__id").cast("string"), F.lit(f":kgentry:{seed}"))
    )
    entries = (
        nodes.select("__id", "__qd", "__ad", ekey.alias("__e"))
        .orderBy("__e", "__id")
        .limit(n_entries)
        .select("__id", "__qd", "__ad")
        .localCheckpoint(eager=True)
    )
    trk = F.row_number().over(W.partitionBy().orderBy("__qd", "__id"))
    truth = (
        nodes.withColumn("__rk", trk)
        .filter(F.col("__rk") <= k)
        .select("__id")
        .localCheckpoint(eager=True)
    )
    nn = samp.agg(F.count("*").cast("long").alias("n_nodes"))
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))

    def walk(rank_col: str):
        brk = F.row_number().over(
            W.partitionBy().orderBy(rank_col, "__id")
        )
        beam, visited = entries, entries.select("__id")
        for t in range(1, hops + 1):
            expand = (
                beam.select(F.col("__id").alias("src"))
                .join(F.broadcast(edges), "src")
                .select(F.col("dst").alias("__id"))
                .join(F.broadcast(nodes), "__id")
                .select("__id", "__qd", "__ad")
            )
            visited = visited.unionByName(expand.select("__id"))
            beam = (
                beam.unionByName(expand)
                .distinct()
                .withColumn("__rk", brk)
                .filter(F.col("__rk") <= beam_width)
                .select("__id", "__qd", "__ad")
            )
            if t % 3 == 0 and t < hops:
                beam = beam.localCheckpoint(eager=True)
                visited = visited.localCheckpoint(eager=True)
        return beam, visited

    def report(route: str, beam: DataFrame, visited: DataFrame):
        # exact rerank of the final beam (for the exact route this is
        # the ranking the walk already used — same operation, so both
        # rows are produced by identical machinery)
        rrk = F.row_number().over(W.partitionBy().orderBy("__qd", "__id"))
        result = (
            beam.withColumn("__rk", rrk)
            .filter(F.col("__rk") <= k)
            .select("__id")
        )
        hits = result.join(truth, "__id", "left_semi").agg(
            F.count("*").cast("long").alias("n_hits")
        )
        nv = visited.select("__id").distinct().agg(
            F.count("*").cast("long").alias("n_visited")
        )
        return (
            nn.crossJoin(ne)
            .crossJoin(nv)
            .crossJoin(hits)
            .select(
                F.lit(route).alias("route"),
                "n_nodes",
                "n_edges",
                F.lit(m).cast("int").alias("m"),
                F.lit(pq_k).cast("int").alias("pq_k"),
                F.lit(beam_width).cast("long").alias("beam_width"),
                F.lit(hops).cast("long").alias("hops"),
                "n_visited",
                "n_hits",
                F.round(F.col("n_hits") / F.lit(float(k)), 6).alias(
                    "recall_at_k"
                ),
            )
        )

    eb, ev = walk("__qd")
    pb, pv = walk("__ad")
    return (
        report("exact", eb, ev)
        .unionByName(report("pq_adc", pb, pv))
        .orderBy("route")
    )


def knn_graph_components(
    df: DataFrame,
    probe: list[float],
    *,
    degree: int = 6,
    sample_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    seed: int = 7,
) -> DataFrame:
    """Connectivity certificate for the k-NN graph (round 10) — the
    companion to :func:`knn_graph_beam_recall`: beam search can only
    ever reach the entry point's connected component, so the
    component structure of the (undirected) k-NN graph IS the
    reachability ceiling of graph-ANN routing. Classic failure mode:
    clustered corpora shatter a low-degree k-NN graph into one
    component per cluster, and recall silently caps at the entry
    cluster — this report makes that visible as
    ``reachable_frac < 1``.

    Same deterministic build as the recall certificate (md5 sample,
    int64 fixed-point distances, id-ascending ties); components via
    the library min-label-propagation kernel (exact, convergence
    asserted). Full SQL oracle: a transitive-closure recursive CTE
    computes min-reachable-id per node.

    Returns one row: (n_nodes, n_edges, n_components, largest_comp,
    smallest_comp, reachable_frac = largest/n rounded 6).
    """
    from vectordb_migrator_spark.operators.graph import (
        connected_components,
    )

    if util.kernel_ok():
        # r13 opt (guide §2.4): graph build + union-find components in
        # ONE Arrow-batched kernel over the folded sample row — the
        # iterative CC loop paid several driver-coordinated rounds on
        # a 256-node graph. Components of an exact edge set are
        # engine-independent; A/B-asserted against the declarative
        # path in tests.
        one = _kg_sample_one_row(
            _kg_sample(
                df, probe, sample_size=sample_size, id_col=id_col,
                vec_col=vec_col, scale=scale, seed=seed, checkpoint=False,
            )
        )

        def kern(batches):
            import pandas as pd

            from vectordb_migrator_spark.operators.similarity import (
                _kg_python_graph,
            )

            for pdf in batches:
                for _, row in pdf.iterrows():
                    ids = [int(v) for v in row["ids"]]
                    adj = _kg_python_graph(ids, row["xs"], degree=degree)
                    n = len(ids)
                    n_edges = sum(len(a) for a in adj)
                    # union-find over the undirected edge set
                    parent = list(range(n))

                    def find(a):
                        while parent[a] != a:
                            parent[a] = parent[parent[a]]
                            a = parent[a]
                        return a

                    verts = set()
                    for s, dsts in enumerate(adj):
                        for t in dsts:
                            verts.add(s)
                            verts.add(t)
                            ra, rb = find(s), find(t)
                            if ra != rb:
                                parent[ra] = rb
                    sizes: dict[int, int] = {}
                    for v in verts:
                        r = find(v)
                        sizes[r] = sizes.get(r, 0) + 1
                    if sizes:
                        rec = {
                            "n_nodes": n,
                            "n_edges": n_edges,
                            "n_components": len(sizes),
                            "largest_comp": max(sizes.values()),
                            "smallest_comp": min(sizes.values()),
                        }
                    else:  # edgeless graph — the declarative path's
                        # empty aggregate yields NULL extremes
                        rec = {
                            "n_nodes": n,
                            "n_edges": 0,
                            "n_components": 0,
                            "largest_comp": None,
                            "smallest_comp": None,
                        }
                    yield pd.DataFrame([rec], dtype="object")

        out = one.mapInPandas(
            kern,
            schema=(
                "n_nodes long, n_edges long, n_components long, "
                "largest_comp long, smallest_comp long"
            ),
        )
        # rounded ratio via the same Spark HALF_UP expression as the
        # declarative path (Python round is banker's)
        return out.withColumn(
            "reachable_frac",
            F.round(
                F.col("largest_comp").cast("double")
                / F.col("n_nodes").cast("double"),
                6,
            ),
        )
    samp, edges = _knn_graph_sample_edges(
        df, probe, degree=degree, sample_size=sample_size,
        id_col=id_col, vec_col=vec_col, scale=scale, seed=seed,
    )
    comps = connected_components(edges, src="src", dst="dst")
    sizes = comps.groupBy("comp").agg(
        F.count("*").cast("long").alias("sz")
    )
    stats = sizes.agg(
        F.count("*").cast("long").alias("n_components"),
        F.max("sz").alias("largest_comp"),
        F.min("sz").alias("smallest_comp"),
    )
    nn = samp.agg(F.count("*").cast("long").alias("n_nodes"))
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        nn.crossJoin(ne)
        .crossJoin(stats)
        .select(
            "n_nodes",
            "n_edges",
            "n_components",
            "largest_comp",
            "smallest_comp",
            F.round(
                F.col("largest_comp").cast("double")
                / F.col("n_nodes").cast("double"),
                6,
            ).alias("reachable_frac"),
        )
    )


def brp_md5_planes(
    n_planes: int, dim: int, *, span: int = 1000
) -> list[list[int]]:
    """Deterministic integer hyperplanes for :func:`brp_md5_join`:
    coordinate ``c`` of plane ``p`` is the first 60 md5 bits of
    ``"brp:<p>:<c>"`` mapped uniformly into [-span, span] — the same
    md5-seeded-coin convention as every deterministic sketch here, so
    the IDENTICAL integer literals embed in both the Spark expression
    and the SQL oracle (no RNG state to reproduce)."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"brp:{p}:{c}".encode()).hexdigest()[:15],
                16,
            )
            % (2 * span + 1)
            - span
            for c in range(dim)
        ]
        for p in range(n_planes)
    ]


def brp_md5_join(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 1.2,
    bands: int = 8,
    bits: int = 8,
    dim: int = 64,
    scale: int = 10_000,
    span: int = 1000,
    max_bucket: int | None = None,
) -> DataFrame:
    """Deterministic random-projection APPROX-SIMILARITY-JOIN — the
    cross-engine-reproducible twin of the rows-only MLlib
    ``BucketedRandomProjectionLSH.approxSimilarityJoin``
    (``x4_brp_approx_join``), upgraded the way ``minhash_md5_pairs``
    upgraded the xxhash64 MinHash join: md5-seeded integer
    hyperplanes (:func:`brp_md5_planes`), half-away fixed-point
    coordinates at ``scale``, per-band sign signatures, and an exact
    int64 L2 verify — every step replays bit-for-bit in SQL.

    Contract (the approx-join contract, not a recall guarantee):
    emit exactly the pairs that (a) collide in ≥1 of the ``bands``
    sign-LSH bands and (b) pass the EXACT quantized-grid distance
    test ``Σ(qa−qb)² ≤ round(threshold·scale)²`` — candidates the
    banding misses are the honest LSH trade (recall rises with
    ``bands``, falls with ``bits``; the no-false-positives half is
    exact, asserted against brute force in tests).

    Scale shape: ONE pass computes all ``bands·bits`` dot signs per
    row — by default an Arrow kernel (one exact int64 matmul per
    batch; integer addition is associative and overflow-free here, so
    the kernel is BIT-IDENTICAL to the interpreted-HOF fold it
    replaces — A/B-asserted in tests). Only ``(band_key, id)`` pairs
    cross the shuffle (the minhash banding plan); the distance verify
    touches candidate pairs only, never the full cross product — no
    cartesian at any size. ``max_bucket`` star-caps degenerate buckets exactly
    like ``minhash_md5_pairs`` (a band where every row agrees would
    otherwise square). Returns (id_a, id_b, n_bands, dist), ordered.
    """
    from pyspark.sql import Window as _W

    if bits < 1 or bits > 60 or bands < 1:
        raise ValueError("need 1 <= bits <= 60 and bands >= 1")
    planes = brp_md5_planes(bands * bits, dim, span=span)
    thr2 = int(round(threshold * scale)) ** 2

    q = fixed_point_array(F.col(vec_col), scale)
    base = util.fan_out(df).select(F.col(id_col).alias("id"), q.alias("q"))
    if util.kernel_ok():
        # Arrow kernel: one exact int64 matmul per batch. Every dot is
        # a sum of 64 bounded int64 products (|term| <= span*scale*|x|
        # — no overflow), and integer addition is associative, so the
        # matmul equals the HOF fold bit for bit regardless of order.
        import numpy as np
        import pandas as pd

        plane_rows = [list(r) for r in planes]
        n_bands, n_bits = bands, bits
        weights = [1 << (n_bits - 1 - i) for i in range(n_bits)]

        def _band_keys(it):
            p = np.array(plane_rows, dtype=np.int64)
            w = np.array(weights, dtype=np.int64)
            for pdf in it:
                if not len(pdf):
                    continue
                qm = np.stack(
                    [np.asarray(v, dtype=np.int64) for v in pdf["q"]]
                )
                dots = qm @ p.T  # (n, bands*bits) exact int64
                bits_m = (dots >= 0).astype(np.int64).reshape(
                    len(qm), n_bands, n_bits
                )
                sigs = bits_m @ w  # (n, bands)
                ids = np.repeat(pdf["id"].to_numpy(), n_bands)
                bj = np.tile(np.arange(n_bands), len(qm))
                keys = [
                    f"{j}_{s}"
                    for j, s in zip(bj, sigs.reshape(-1))
                ]
                yield pd.DataFrame({"id": ids, "key": keys})

        banded = base.mapInPandas(
            _band_keys, schema="id long, key string"
        )
    else:
        pl = F.array(
            *[
                F.array(*[F.lit(c).cast("long") for c in row])
                for row in planes
            ]
        )
        dots = F.transform(
            pl,
            lambda row: F.aggregate(
                F.zip_with(F.col("q"), row, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        sig = lambda j: F.aggregate(  # noqa: E731
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(
                F.element_at(F.col("__dots"), F.lit(j * bits) + i + 1)
                >= 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        band_keys = F.array(
            *[
                F.concat_ws("_", F.lit(str(j)), sig(j).cast("string"))
                for j in range(bands)
            ]
        )
        banded = (
            base.withColumn("__dots", dots)
            .select("id", "q", F.explode(band_keys).alias("key"))
            .select("id", "key")
        )
    if max_bucket is not None:
        w = _W.partitionBy("key")
        marked = banded.withColumn(
            "n_bkt", F.count("*").over(w)
        ).withColumn("anchor", F.min("id").over(w))
        a = marked.select(
            "key", F.col("id").alias("id_a"), "n_bkt", "anchor"
        )
        b = banded.select("key", F.col("id").alias("id_b"))
        raw = (
            a.join(b, "key")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                (F.col("n_bkt") <= max_bucket)
                | (F.col("id_a") == F.col("anchor"))
            )
        )
    else:
        a = banded.select("key", F.col("id").alias("id_a"))
        b = banded.select("key", F.col("id").alias("id_b"))
        raw = a.join(b, "key").filter(F.col("id_a") < F.col("id_b"))
    cand = raw.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("int").alias("n_bands")
    )
    qa = base.select(F.col("id").alias("id_a"), F.col("q").alias("qa"))
    qb = base.select(F.col("id").alias("id_b"), F.col("q").alias("qb"))
    dist2 = F.aggregate(
        F.zip_with(
            F.col("qa"), F.col("qb"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(qa, "id_a")
        .join(qb, "id_b")
        .withColumn("__d2", dist2)
        .filter(F.col("__d2") <= F.lit(thr2))
        .select(
            "id_a",
            "id_b",
            "n_bands",
            F.round(
                F.sqrt(F.col("__d2").cast("double")) / F.lit(float(scale)),
                6,
            ).alias("dist"),
        )
        .orderBy("id_a", "id_b")
    )


def pq_mse_by_subspace_fp(
    df: DataFrame,
    variants: list[tuple[str, list[list[list[int]]]]],
    *,
    m: int = 4,
    dsub: int = 16,
    scale: int = 10_000,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ reconstruction MSE for several codebook
    variants at once (round 12) — the readout half of
    ``x9_pq_learned_error`` factored into an operator so the hot path
    can run as an Arrow kernel: per batch, ONE exact int64 distance
    matrix per (variant, subspace) and integer partial sums — every
    quantity an exact int64 and min/sum order-free, so the kernel is
    BIT-IDENTICAL to the interpreted zip_with/aggregate fold it
    replaces (A/B-asserted). Returns (variant, s, n, mse_mean)
    ordered, with the same IEEE tail (sum → double, ÷n, ÷scale², round 6) on both paths."""
    q = fixed_point_array(F.col(vec_col), scale)
    if util.kernel_ok():
        import numpy as np
        import pandas as pd

        var_lists = [(name, [list(map(list, cb)) for cb in cbs])
                     for name, cbs in variants]

        def _partials(it):
            cmats = [
                (name, [np.array(cb, dtype=np.int64) for cb in cbs])
                for name, cbs in var_lists
            ]
            for pdf in it:
                if not len(pdf):
                    continue
                x = np.stack(
                    [np.asarray(v, dtype=np.int64) for v in pdf["q"]]
                )
                cols = {"variant": [], "s": [], "sum_mdist": [], "n": []}
                for name, cbs in cmats:
                    for s in range(m):
                        sub = x[:, s * dsub:(s + 1) * dsub]
                        c = cbs[s]
                        d = (
                            (sub[:, None, :] - c[None, :, :]) ** 2
                        ).sum(-1)
                        md = d.min(1)
                        cols["variant"].append(name)
                        cols["s"].append(s)
                        cols["sum_mdist"].append(int(md.sum()))
                        cols["n"].append(len(x))
                yield pd.DataFrame(cols)

        partials = df.select(q.alias("q")).mapInPandas(
            _partials,
            schema="variant string, s int, sum_mdist long, n long",
        )
        agg = partials.groupBy("variant", "s").agg(
            F.sum("sum_mdist").cast("long").alias("sum_mdist"),
            F.sum("n").cast("long").alias("n"),
        )
    else:
        rows = []
        for name, cbs in variants:
            for s in range(m):
                sub = F.slice(q, s * dsub + 1, dsub)
                cands = F.array(
                    *[
                        F.array(*[F.lit(int(x)) for x in cw])
                        for cw in cbs[s]
                    ]
                )
                dists = F.transform(
                    cands,
                    lambda c: F.aggregate(
                        F.zip_with(
                            sub, c, lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ),
                )
                rows.append(
                    F.struct(
                        F.lit(name).alias("variant"),
                        F.lit(s).cast("int").alias("s"),
                        F.array_min(dists).alias("mdist"),
                    )
                )
        agg = (
            df.select(F.explode(F.array(*rows)).alias("e"))
            .select("e.variant", "e.s", "e.mdist")
            .groupBy("variant", "s")
            .agg(
                F.sum(F.col("mdist").cast("decimal(28,0)"))
                .cast("long")
                .alias("sum_mdist"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )
    return agg.select(
        "variant",
        "s",
        "n",
        F.round(
            F.col("sum_mdist").cast("double")
            / F.col("n").cast("double")
            / F.lit(float(scale) ** 2),
            6,
        ).alias("mse_mean"),
    ).orderBy("variant", "s")
