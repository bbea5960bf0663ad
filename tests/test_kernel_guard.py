"""The one kernel guard (``operators.util.kernel_ok``): every kernel
site consults it, and with it refused the dataflow / HOF-fold twins
still match the DuckDB oracles."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from tests.conftest import SF_DIR, kernels_off

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import TABLES, compare  # noqa: E402

#: the scale the oracle gate (tools/check_oracle.py) runs at
ORACLE_SF_DIR = str(Path(SF_DIR).parent / "sf0.01")

#: Oracle-checked queries that run guarded operators: CC, LPA, the
#: Lloyd loop (alone and under SemDeDup), the fixed-point PQ fit and
#: MSE readout, the k-NN graph certificate and the BRP sign pass.
TWIN_QUERIES = (
    "x2_dedup_clusters",
    "x2_label_propagation",
    "x4_kmeans_ivf",
    "x2_semdedup_fitted",
    "x9_pq_learned_error",
    "x4_knn_graph_components",
    "x4_brp_md5_join",
)

GUARDED = {
    "kmeans_fit",
    "pq_learned_codebooks_fp",
    "pq_mse_by_subspace_fp",
    "knn_graph_beam_recall",
    "graph_pq_route_recall",
    "knn_graph_components",
    "brp_md5_join",
    "connected_components",
    "connected_components_two_phase",
    "pagerank",
    "label_propagation",
}


@pytest.mark.skipif(
    not Path(ORACLE_SF_DIR).exists(), reason="sf0.01 testdata absent"
)
def test_dataflow_twins_match_oracles(spark):
    from vectordb_migrator_spark.suite import ORACLES, QUERIES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ORACLE_SF_DIR}/{t}.parquet')"
        )
    # the iterative fits (x4_kmeans_ivf, x2_semdedup_fitted) have no
    # SQL oracle; their reference is the kernel path's own output
    ref = {
        name: con.sql(ORACLES[name])
        if name in ORACLES
        else con.from_df(QUERIES[name](spark, ORACLE_SF_DIR).toPandas())
        for name in TWIN_QUERIES
    }
    with kernels_off() as callers:
        for name in TWIN_QUERIES:
            df = QUERIES[name](spark, ORACLE_SF_DIR)
            ok, msg = compare(name, df, ref[name])
            assert ok, f"{name}: {msg}"
    assert callers  # the twins really ran


def test_every_kernel_site_consults_the_guard(spark):
    from vectordb_migrator_spark.operators.clustering import kmeans_fit
    from vectordb_migrator_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
        label_propagation,
        pagerank,
    )
    from vectordb_migrator_spark.operators.similarity import (
        brp_md5_join,
        graph_pq_route_recall,
        knn_graph_beam_recall,
        knn_graph_components,
        pq_learned_codebooks_fp,
        pq_mse_by_subspace_fp,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 11) for j in range(8)]) for i in range(16)],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    probe = [1.0] * 8
    cert = dict(degree=2, sample_size=8)
    with kernels_off() as callers:
        kmeans_fit(vecs, k=2, max_iter=1)
        cbs = pq_learned_codebooks_fp(vecs, m=2, k=2, n_iter=1)
        pq_mse_by_subspace_fp(vecs, [("v", cbs)], m=2, dsub=4).collect()
        knn_graph_beam_recall(vecs, probe, k=2, beam_width=2, hops=1, **cert).collect()
        graph_pq_route_recall(
            vecs, probe, k=2, beam_width=2, hops=1, m=2, pq_k=2, **cert
        ).collect()
        knn_graph_components(vecs, probe, **cert).collect()
        brp_md5_join(vecs, dim=8, bands=1, bits=2).collect()
        connected_components(edges).collect()
        connected_components_two_phase(edges).collect()
        pagerank(edges, n_iter=1).collect()
        label_propagation(edges, n_iter=1).collect()
    assert set(callers) == GUARDED
