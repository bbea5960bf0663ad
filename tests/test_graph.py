"""Connected-components / cluster-dedup tests (union-find reference)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from tests.conftest import kernels_off

from vectordb_migrator_spark.operators.graph import (
    connected_components,
    dedup_keep_representatives,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # min id per component
    return {v: find(v) for v in list(parent)}


def test_cc_basic_chain_and_islands(spark):
    edges = [(1, 2), (2, 3), (5, 6), (9, 9)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_cc_long_chain_converges(spark):
    n = 30
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cc_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    # canonical min-id labels must agree with union-find exactly
    expect = _uf_components(edges)
    # union-find roots are already min ids (union parents to the min)
    assert got == expect


def test_cc_kernel_matches_iterative(spark):
    # r13: small graphs take the single-task numpy kernel; force the
    # iterative dataflow with kernels_off() and assert identical
    # (id, comp) sets on a messy graph (dense cluster + chain + self
    # loop + isolated pair).
    import random

    rng = random.Random(13)
    edges = (
        [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
        + [(i, i + 1) for i in range(300, 340)]
        + [(500, 500), (1000, 999)]
    )
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    kern = {(r["id"], r["comp"]) for r in connected_components(df).collect()}
    with kernels_off():
        iterative = {
            (r["id"], r["comp"])
            for r in connected_components(df).collect()
        }
    assert kern == iterative
    assert len(kern) == len({i for e in edges for i in e})


def test_dedup_keep_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4), (5, 6)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_representatives(docs, pairs).collect()
    )
    # components {1,2,4}→keep 1, {5,6}→keep 5; 0/3 untouched
    assert kept == [0, 1, 3, 5]


def test_two_phase_cc_basic_chain_and_islands(spark):
    from vectordb_migrator_spark.operators.graph import (
        connected_components_two_phase,
    )

    edges = [(1, 2), (2, 3), (5, 6), (9, 9)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["comp"]
        for r in connected_components_two_phase(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_two_phase_cc_long_chain_converges(spark):
    """The case the backend exists for: a path graph (diameter = n)
    must converge within the logarithmic round bound, not O(n)."""
    from vectordb_migrator_spark.operators.graph import (
        connected_components_two_phase,
    )

    n = 40
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["comp"]
        for r in connected_components_two_phase(df, max_iter=12).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n + 1


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_two_phase_cc_matches_union_find(spark, edges):
    from vectordb_migrator_spark.operators.graph import (
        connected_components_two_phase,
    )

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["comp"]
        for r in connected_components_two_phase(df).collect()
    }
    assert got == _uf_components(edges)


def test_two_phase_backend_in_dedup_keep_representatives(spark):
    """Both CC backends drive dedup_keep_representatives to the same
    survivor set; an unknown backend name fails loudly."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"]
    )
    lp = sorted(
        r["doc_id"]
        for r in dedup_keep_representatives(docs, pairs).collect()
    )
    tp = sorted(
        r["doc_id"]
        for r in dedup_keep_representatives(
            docs, pairs, algorithm="two_phase"
        ).collect()
    )
    assert lp == tp == [0, 3, 4, 6, 7]
    with pytest.raises(ValueError, match="algorithm"):
        dedup_keep_representatives(docs, pairs, algorithm="nope")


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from vectordb_migrator_spark.operators.graph import pagerank

    # two components: a 4-cycle with a chord (asymmetric centrality)
    # and an isolated pair
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (10, 11)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}

    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = adj.T @ (r / deg)
        r = np.round(0.15 / n + 0.85 * contrib, 12)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v
    # chord endpoints (1, 3) are the hubs of the cycle component
    assert got[1] > got[2] and got[3] > got[4]
    # ranks sum to ~1
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_kernel_matches_dataflow(spark):
    # r13: small graphs take the single-task decimal-replay kernel;
    # kernels_off() forces the dataflow loop. The DECIMAL(28,18)
    # + round-12 trajectory is order- and engine-independent, so the
    # two paths must agree BIT FOR BIT in all three modes.
    import random

    from vectordb_migrator_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for kw in (
        {},
        {"undirected": False},
        {"undirected": False, "seeds": [1, 3, 5]},
        {"seeds": [0, 2]},
    ):
        kern = {
            r["id"]: r["rank"] for r in pagerank(df, **kw).collect()
        }
        with kernels_off():
            flow = {
                r["id"]: r["rank"] for r in pagerank(df, **kw).collect()
            }
        assert kern == flow, kw


def test_pagerank_directed_mode(spark):
    from vectordb_migrator_spark.operators.graph import pagerank

    # star pointing at vertex 0: all mass flows to the hub
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, undirected=False, n_iter=10).collect()
    }
    # leaves 2,3 receive nothing: floor rank; the 0<->1 pair holds
    # the rest of the mass (their split oscillates with parity)
    assert got[2] == got[3]
    assert got[0] > got[2] and got[1] > got[2]


def test_pagerank_directed_sink_and_dangling_mass(spark):
    """ADVICE r6: directed graphs with pure sinks — the sink must
    appear in the output (verts = union of src and dst), its incoming
    contributions must count, and dangling mass must redistribute
    uniformly so ranks still sum to ~1. Differential vs the standard
    NumPy power iteration with the same round-12 schedule."""
    import numpy as np

    from vectordb_migrator_spark.operators.graph import pagerank

    # 2 is a pure sink (no out-edges); 4 is an isolated self-pointing
    # source chain end: 4 -> 5, 5 has no out-edges either
    edges = [(1, 2), (3, 2), (1, 3), (4, 5)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, undirected=False, n_iter=10).collect()
    }
    ids = sorted({v for e in edges for v in e})
    assert set(got) == set(ids)  # sinks 2 and 5 present

    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[idx[a], idx[b]] = 1.0
    out_deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        dangling = r[out_deg == 0].sum()
        safe = np.where(out_deg > 0, r / np.maximum(out_deg, 1.0), 0.0)
        r = np.round(0.15 / n + 0.85 * (adj.T @ safe + dangling / n), 12)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # the double-fed sink out-ranks everything
    assert got[2] == max(got.values())


def test_triangle_counts_basic_shapes(spark):
    from vectordb_migrator_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (every vertex in C(3,2)=3 triangles) plus a
    # triangle-free path 10-11-12 and an isolated edge 20-21
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 10: 0, 11: 0, 12: 0, 20: 0, 21: 0}


def test_triangle_counts_matches_bruteforce(spark):
    import itertools
    import random

    from vectordb_migrator_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    verts = list(range(30))
    edges = sorted(
        {tuple(sorted(rng.sample(verts, 2))) for _ in range(120)}
    )
    adj = set(edges)
    want = {v: 0 for v in {x for e in edges for x in e}}
    for a, b, c in itertools.combinations(sorted(want), 3):
        if (a, b) in adj and (a, c) in adj and (b, c) in adj:
            want[a] += 1
            want[b] += 1
            want[c] += 1
    # feed edges in BOTH orders and with duplicates — must normalize
    noisy = edges + [(b, a) for a, b in edges[:40]]
    df = spark.createDataFrame(noisy, "id_a long, id_b long")
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == want


def _peel_kcore(edges, k):
    """Reference k-core: peel to a fixpoint with plain Python."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        ns = {(a, b) for a, b in es if a in keep and b in keep}
        if ns == es:
            break
        es = ns
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return {v: d for v, d in deg.items() if d >= k}


def test_kcore_basic_shapes(spark):
    from vectordb_migrator_spark.operators.graph import kcore

    # triangle {1,2,3} with a pendant chain 3-10-11 and an isolated
    # edge 20-21: the 2-core is exactly the triangle
    edges = [(1, 2), (2, 3), (1, 3), (3, 10), (10, 11), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["deg"] for r in kcore(df, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # 3-core of the same graph is empty
    assert kcore(df, k=3).count() == 0


def test_kcore_deep_peel_chain(spark):
    from vectordb_migrator_spark.operators.graph import kcore

    # a long pendant chain hanging off a triangle peels one link per
    # round — exercises several iterations and the early stop
    edges = [(1, 2), (2, 3), (1, 3)] + [
        (i, i + 1) for i in range(3, 9)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["deg"] for r in kcore(df, k=2, n_iter=10).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        min_size=0,
        max_size=80,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_kcore_matches_python_peel(spark, edges, k):
    from vectordb_migrator_spark.operators.graph import kcore

    want = _peel_kcore(edges, k)
    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    got = {r["id"]: r["deg"] for r in kcore(df, k=k, n_iter=30).collect()}
    assert got == want


def test_clustering_coefficient_known_graphs(spark):
    """A triangle scores cc=1 everywhere; a path scores 0; the
    kite (triangle + pendant chain) matches hand computation for both
    local-average and global transitivity."""
    from vectordb_migrator_spark.operators.graph import (
        clustering_coefficient,
    )

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    r = clustering_coefficient(tri).first()
    assert (r["n_vertices"], r["n_eligible"]) == (3, 3)
    assert r["avg_local_cc"] == 1.0 and r["global_cc"] == 1.0

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    rp = clustering_coefficient(path).first()
    assert rp["avg_local_cc"] == 0.0 and rp["global_cc"] == 0.0

    # kite: triangle 1-2-3 plus chain 3-4
    kite = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    rk = clustering_coefficient(kite).first()
    # locals: v1=1, v2=1, v3= 1/(3*2/2)=1/3, v4 ineligible (deg 1)
    assert rk["n_eligible"] == 3
    assert abs(rk["avg_local_cc"] - (1 + 1 + 1 / 3) / 3) < 1e-6
    # transitivity: sum T = 3 triangles*... per-vertex T: 1,1,1 -> 3;
    # wedges: 1 + 1 + 3 = 5 -> 3/5
    assert abs(rk["global_cc"] - 0.6) < 1e-6


# ---------------------------------------------------------------- LPA


def _lpa_python(edges, n_iter):
    """Synchronous label propagation, smallest-label tie-break. A
    self-loop counts as one vote for the vertex's own previous label,
    matching the operator's distinct undirected edge list."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v, nbrs in adj.items():
            if not nbrs:
                nxt[v] = labels[v]
                continue
            counts = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    return labels


def test_label_propagation_two_cliques_one_bridge(spark):
    from vectordb_migrator_spark.operators.graph import label_propagation

    # two triangles {1,2,3} and {7,8,9} bridged by (3,7): LPA keeps
    # the dense cores separate where CC would merge them
    edges = [(1, 2), (1, 3), (2, 3), (7, 8), (7, 9), (8, 9), (3, 7)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["label"] for r in label_propagation(df, n_iter=3).collect()}
    assert got == _lpa_python(edges, 3)
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[7], got[8], got[9]}) == 1
    assert got[1] != got[8]


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=14,
    ),
    n_iter=st.integers(1, 3),
)
@settings(max_examples=12, deadline=None)
def test_label_propagation_matches_python(spark, edges, n_iter):
    from vectordb_migrator_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["label"]
        for r in label_propagation(df, n_iter=n_iter).collect()
    }
    assert got == _lpa_python(edges, n_iter)


# ---------------------------------------------------------- Adamic-Adar


def test_adamic_adar_path_graph(spark):
    from math import log

    from vectordb_migrator_spark.operators.graph import adamic_adar

    # path 1-2-3-4: non-edges with common neighbors are (1,3) via 2,
    # (2,4) via 3; deg(2)=deg(3)=2 so both score 1/ln 2
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    rows = adamic_adar(df, k=10).collect()
    got = {(r["a"], r["b"]): (r["common"], r["score"]) for r in rows}
    want_score = round(round(1.0 / log(2.0), 9), 6)
    assert got == {(1, 3): (1, want_score), (2, 4): (1, want_score)}


def test_adamic_adar_drops_existing_edges_and_ranks(spark):
    from vectordb_migrator_spark.operators.graph import adamic_adar

    # K4 minus edge (1,4): only (1,4) is a scorable non-edge
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], ["id_a", "id_b"]
    )
    rows = adamic_adar(df, k=10).collect()
    assert [(r["a"], r["b"], r["common"]) for r in rows] == [(1, 4, 2)]


# ------------------------------------------------------ co-occurrence


def test_co_occurrence_edges_support_floor(spark):
    from vectordb_migrator_spark.operators.graph import co_occurrence_edges

    rows = [
        (10, 1), (10, 2), (10, 3),
        (20, 1), (20, 2),
        (30, 1), (30, 3),
        (30, 3),  # duplicate (basket, item) row must not inflate support
    ]
    df = spark.createDataFrame(rows, ["bk", "it"])
    got = {
        (r["id_a"], r["id_b"]): r["support"]
        for r in co_occurrence_edges(
            df, basket_col="bk", item_col="it", min_support=2
        ).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 2}


# --------------------------------------------------- personalized PR


def test_personalized_pagerank_matches_numpy(spark):
    import numpy as np

    from vectordb_migrator_spark.operators.graph import pagerank

    # 4-cycle with a chord + isolated pair; seeds = {1, 10}
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (10, 11)]
    seeds = [1, 10]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, n_iter=10, seeds=seeds).collect()
    }

    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    base = np.zeros(n)
    r = np.zeros(n)
    for s in seeds:
        base[idx[s]] = 0.15 / len(seeds)
        r[idx[s]] = 1.0 / len(seeds)
    for _ in range(10):
        r = np.round(base + 0.85 * (adj.T @ (r / deg)), 12)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v
    # proximity, not global importance: seed 1's direct neighbors
    # out-rank the cycle vertex two hops out
    assert got[2] > got[4] - 1e-12 and got[3] > 0
    # mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_personalized_pagerank_directed_dangling_to_seeds(spark):
    import numpy as np

    from vectordb_migrator_spark.operators.graph import pagerank

    # 2 is a pure sink: its mass must restart at the seed, not spread
    edges = [(1, 2), (3, 2), (1, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(
            df, undirected=False, n_iter=10, seeds=[1]
        ).collect()
    }
    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[idx[a], idx[b]] = 1.0
    out_deg = adj.sum(axis=1)
    base = np.zeros(n)
    base[idx[1]] = 0.15
    r = np.zeros(n)
    r[idx[1]] = 1.0
    for _ in range(10):
        dangling = r[out_deg == 0].sum()
        safe = np.where(out_deg > 0, r / np.maximum(out_deg, 1.0), 0.0)
        contrib = adj.T @ safe
        restart = np.zeros(n)
        restart[idx[1]] = dangling
        r = np.round(base + 0.85 * (contrib + restart), 12)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_personalized_pagerank_empty_seeds_raises(spark):
    import pytest

    from vectordb_migrator_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError):
        pagerank(df, seeds=[])


def test_adamic_adar_self_loop_does_not_abort(spark):
    """A self-loop-only wedge center has deg 1 (ln = 0); its term
    must become NULL via try_divide, not an ANSI divide-by-zero."""
    from vectordb_migrator_spark.operators.graph import adamic_adar

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3)], ["id_a", "id_b"]
    )
    rows = adamic_adar(df, k=10).collect()
    got = {(r["a"], r["b"]) for r in rows}
    assert (2, 3) in got  # the real wedge through 1 still scores


def test_two_phase_kernel_matches_star_rounds(spark):
    # r13: small graphs take the single-task numpy kernel; force the
    # alternating-star dataflow with kernels_off() and assert
    # identical (id, comp) sets, self-loop-only vertices included.
    import random

    from vectordb_migrator_spark.operators.graph import (
        connected_components_two_phase,
    )

    rng = random.Random(17)
    edges = (
        [(rng.randrange(150), rng.randrange(150)) for _ in range(250)]
        + [(i, i + 1) for i in range(300, 360)]
        + [(700, 700), (900, 901)]
    )
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    kern = {
        (r["id"], r["comp"])
        for r in connected_components_two_phase(df).collect()
    }
    with kernels_off():
        star = {
            (r["id"], r["comp"])
            for r in connected_components_two_phase(df).collect()
        }
    assert kern == star
    assert len(kern) == len({i for e in edges for i in e})


def test_lpa_kernel_matches_dataflow_rounds(spark):
    # r13: the single-task LPA kernel must reproduce the synchronous
    # dataflow rounds label-for-label (deterministic integer tie rule)
    # for several round counts on a messy graph.
    import random

    from vectordb_migrator_spark.operators.graph import label_propagation

    rng = random.Random(29)
    edges = (
        [(rng.randrange(120), rng.randrange(120)) for _ in range(260)]
        + [(i, i + 1) for i in range(200, 240)]
        + [(400, 401), (500, 500)]
    )
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for n_iter in (1, 2, 3, 5):
        kern = {
            (r["id"], r["label"])
            for r in label_propagation(df, n_iter=n_iter).collect()
        }
        with kernels_off():
            flow = {
                (r["id"], r["label"])
                for r in label_propagation(df, n_iter=n_iter).collect()
            }
        assert kern == flow, f"n_iter={n_iter}"
