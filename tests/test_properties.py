"""Property-based differential tests: Spark expression kernels vs
plain-Python reference implementations over hypothesis-generated
inputs. One DataFrame / one action per test (all examples in a single
batch) to keep Spark round-trips off the hypothesis hot path.
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vectordb_migrator_spark.functions.vector import (
    cosine_similarity,
    int8_dequantize,
    int8_quantize,
)
from vectordb_migrator_spark.operators.dedup import shingles
from tests.conftest import kernels_off

_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c\txyz "),  # whitespace-heavy on purpose
        min_size=1,
        max_size=40,
    ).filter(lambda s: s.strip()),
    min_size=1,
    max_size=30,
)


def _py_shingles(text: str, n: int = 3) -> list[str]:
    import re

    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < n:
        return [" ".join(toks)]
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@settings(max_examples=20, deadline=None)
@given(_texts)
def test_shingles_match_python_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    got = {
        r["id"]: list(r["sh"])
        for r in df.select("id", shingles("text", 3).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_shingles(t, 3), repr(t)


_vecs = st.lists(
    st.lists(
        st.floats(
            min_value=-1e3,
            max_value=1e3,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=2,
        max_size=16,
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=20, deadline=None)
@given(_vecs)
def test_int8_roundtrip_error_bound_property(spark, vecs):
    dim_groups: dict[int, list[list[float]]] = {}
    for v in vecs:
        dim_groups.setdefault(len(v), []).append(v)
    for dim, group in dim_groups.items():
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(group)],
            "id long, v array<double>",
        )
        rows = df.select(
            "id", "v", int8_quantize("v").alias("qs")
        ).withColumn("back", int8_dequantize("qs")).collect()
        for r in rows:
            scale = r["qs"]["scale"]
            assert all(-127 <= q <= 127 for q in r["qs"]["q"])
            for orig, back in zip(r["v"], r["back"]):
                assert abs(orig - back) <= scale / 2 + 1e-9


@settings(max_examples=15, deadline=None)
@given(_vecs)
def test_cosine_similarity_bounds_and_symmetry(spark, vecs):
    same_dim = [v for v in vecs if len(v) == len(vecs[0])]
    a = same_dim[0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(same_dim)], "id long, v array<double>"
    )
    probe = F.array(*[F.lit(float(x)) for x in a])
    rows = df.select(
        "id", cosine_similarity("v", probe).alias("cos")
    ).collect()
    for r in rows:
        v = same_dim[r["id"]]
        na = math.sqrt(sum(x * x for x in a))
        nv = math.sqrt(sum(x * x for x in v))
        if na == 0 or nv == 0:
            assert r["cos"] is None
        else:
            assert -1.0 - 1e-9 <= r["cos"] <= 1.0 + 1e-9
            expected = sum(x * y for x, y in zip(a, v)) / (na * nv)
            assert abs(r["cos"] - expected) <= 1e-6


_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=50),  # ts (seconds)
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=20, deadline=None)
@given(_events, _events)
def test_asof_join_matches_python_reference(spark, lefts, rights):
    """asof_join vs brute-force reference: per left row, the max right
    ts <= left ts for the same key (backward inclusive, left outer)."""
    import datetime as dt

    from vectordb_migrator_spark.operators.relational import asof_join

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "id long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s)) for k, s in rights],
        "k long, ts timestamp",
    )
    got = {
        r["id"]: r["ts_r"] for r in asof_join(ldf, rdf, "k", right_cols=[]).collect()
    }
    assert set(got) == set(range(len(lefts)))
    for i, (k, s) in enumerate(lefts):
        cands = [rs for rk, rs in rights if rk == k and rs <= s]
        expect = (base + dt.timedelta(seconds=max(cands))) if cands else None
        assert got[i] == expect, (i, k, s)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=60),   # n tokens
    st.integers(min_value=2, max_value=12),   # chunk size
    st.integers(min_value=0, max_value=6),    # overlap (< chunk size)
)
def test_chunking_coverage_property(spark, n_tokens, chunk_size, overlap):
    """Every token covered; consecutive chunks share exactly `overlap`
    tokens (except a possibly-shorter tail); counts consistent."""
    from vectordb_migrator_spark.operators.chunking import chunk_text

    overlap = min(overlap, chunk_size - 1)
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = (
        chunk_text(df, chunk_size=chunk_size, overlap=overlap)
        .orderBy("chunk_id")
        .collect()
    )
    step = chunk_size - overlap
    covered = []
    for r in rows:
        toks = r["chunk_text"].split(" ")
        assert len(toks) == r["n_tokens"] <= chunk_size
        covered.extend(toks)
    assert set(covered) == {f"t{i}" for i in range(n_tokens)}
    for i, r in enumerate(rows):
        first = int(r["chunk_text"].split(" ")[0][1:])
        assert first == i * step


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # key
            st.integers(min_value=0, max_value=120),  # ts seconds
        ),
        min_size=1,
        max_size=30,
    )
)
def test_sessionize_matches_python_reference(spark, events):
    """Session boundaries (> gap ⇒ new session) vs a Python scan; the
    per-key session COUNT is order-independent under timestamp ties."""
    import datetime as dt

    from vectordb_migrator_spark.operators.relational import sessionize

    gap_s = 30
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s)) for k, s in events],
        "k long, ts timestamp",
    )
    out = sessionize(df, "k", "ts", gap_micros=gap_s * 1_000_000).collect()
    got_sessions = {}
    for r in out:
        got_sessions[r["k"]] = max(got_sessions.get(r["k"], 0), r["session_id"])

    expect_sessions = {}
    by_key = {}
    for k, s in events:
        by_key.setdefault(k, []).append(s)
    for k, ss in by_key.items():
        ss.sort()
        n = 1
        for a, b in zip(ss, ss[1:]):
            if b - a > gap_s:
                n += 1
        expect_sessions[k] = n
    assert got_sessions == expect_sessions


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=50),
)
def test_pack_chunks_matches_python_reference(spark, token_counts, budget):
    """Offset-bin packing vs the obvious sequential Python fold."""
    from vectordb_migrator_spark.operators.chunking import pack_chunks

    rows = [("d", i, n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(
        rows, "doc_id string, chunk_id long, n_tokens long"
    )
    got = {
        r["chunk_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_chunks(df, budget=budget).collect()
    }
    off = 0
    for i, n in enumerate(token_counts):
        assert got[i] == (off // budget, off % budget)
        off += n


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=3, max_size=3,
        ),
        min_size=1, max_size=20,
    )
)
def test_pool_vectors_matches_python_reference(spark, vecs):
    """Decimal-accumulated mean and greatest-fold max vs plain Python
    (tolerance only for the final double divide)."""
    import pytest as _pytest

    from vectordb_migrator_spark.operators.pooling import pool_vectors

    df = spark.createDataFrame(
        [("g", [float(x) for x in v]) for v in vecs],
        "doc_id string, emb array<double>",
    )
    row = pool_vectors(
        df, group_col="doc_id", vec_col="emb", modes=("mean", "max")
    ).collect()[0]
    n = len(vecs)
    want_mean = [sum(v[j] for v in vecs) / n for j in range(3)]
    want_max = [max(v[j] for v in vecs) for j in range(3)]
    assert row["mean_vec"] == _pytest.approx(want_mean, rel=1e-9, abs=1e-9)
    assert row["max_vec"] == want_max


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # key
            st.sampled_from("ABC"),                  # tracked attribute
            st.integers(min_value=0, max_value=50),  # ts
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[2]),  # one change per (key, ts)
    )
)
def test_scd2_history_matches_python_reference(spark, changes):
    """SCD2 intervals vs a Python scan: same collapse of no-op changes,
    same valid_from/valid_to chaining, same version numbering."""
    from vectordb_migrator_spark.operators.relational import scd2_history

    df = spark.createDataFrame(changes, "k long, status string, ts long")
    out = scd2_history(df, key_col="k", attr_cols=["status"], ts_col="ts")
    got = sorted(
        (r["k"], r["version"], r["status"], r["valid_from"], r["valid_to"])
        for r in out.collect()
    )

    expected = []
    by_key = {}
    for k, s, ts in changes:
        by_key.setdefault(k, []).append((ts, s))
    for k, log in by_key.items():
        log.sort()
        versions = [
            (ts, s)
            for i, (ts, s) in enumerate(log)
            if i == 0 or s != log[i - 1][1]
        ]
        for v, (ts, s) in enumerate(versions, start=1):
            nxt = versions[v][0] if v < len(versions) else None
            expected.append((k, v, s, ts, nxt))
    assert got == sorted(expected)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=30.0, allow_nan=False),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=25.0, allow_nan=False),
            st.floats(min_value=0.1, max_value=12.0, allow_nan=False),
        ),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([0.5, 1.0, 3.0, 7.0]),
)
def test_range_join_bucketed_equals_broadcast_property(
    spark, values, intervals, cell_width
):
    """Grid-cell equi-join == nested-loop inequality join for random
    (possibly overlapping) intervals and any cell width."""
    from vectordb_migrator_spark.operators.relational import (
        range_join,
        range_join_bucketed,
    )

    facts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "fid long, value double"
    )
    bands = spark.createDataFrame(
        [(i, lo, lo + w) for i, (lo, w) in enumerate(intervals)],
        "band long, lo double, hi double",
    )
    kw = dict(value_col="value")
    exact = {
        (r["fid"], r["band"]) for r in range_join(facts, bands, **kw).collect()
    }
    got = {
        (r["fid"], r["band"])
        for r in range_join_bucketed(
            facts, bands, cell_width=cell_width, **kw
        ).collect()
    }
    assert got == exact


def test_source_mixture_weights_sum_to_one(spark, documents):
    """Mixture weights sum to ~1, epochs = target/size, and alpha=1
    reduces to proportional sampling."""
    from vectordb_migrator_spark.operators.slicing import source_mixture

    out = source_mixture(documents, alpha=0.5, budget=1000).collect()
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-4
    for r in out:
        assert abs(r["epochs"] - round(r["target"] / r["size"], 6)) < 1e-9

    prop = source_mixture(documents, alpha=1.0, budget=1000).collect()
    total = sum(r["size"] for r in prop)
    for r in prop:
        assert abs(r["weight"] - r["size"] / total) < 1e-5


def test_apply_source_mixture_replication_rule(spark):
    """floor(epochs) copies always survive; the fractional copy is a
    deterministic coin (two runs identical); epochs<=0 sources vanish;
    expected size tracks target."""
    from vectordb_migrator_spark.operators.slicing import apply_source_mixture

    df = spark.createDataFrame(
        [(i, "up" if i < 50 else "down") for i in range(100)],
        "doc_id long, source string",
    )
    mix = spark.createDataFrame(
        [("up", 2.5), ("down", 0.4), ("gone", 0.0)],
        "source string, epochs double",
    )
    out1 = apply_source_mixture(df, mix).collect()
    out2 = apply_source_mixture(df, mix).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # deterministic

    ups = [r for r in out1 if r["source"] == "up"]
    downs = [r for r in out1 if r["source"] == "down"]
    # every up row has copies 1 and 2 unconditionally
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in ups)
    assert all(c >= 2 for c in per_doc.values()) and len(per_doc) == 50
    # expectation: 50*2.5=125 ups, 50*0.4=20 downs — allow wide slack
    assert 100 < len(ups) < 150 and 5 < len(downs) < 35
    assert not [r for r in out1 if r["source"] == "gone"]


def test_weighted_sample_md5_coin_deterministic_and_biased(spark):
    """The md5-coin sample is run-to-run identical, excludes
    non-positive weights, and over-represents heavy rows relative to
    uniform inclusion."""
    from vectordb_migrator_spark.operators.slicing import weighted_sample

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(500)]
    rows.append((1000, 0.0))   # never selected
    rows.append((1001, None))  # never selected
    df = spark.createDataFrame(rows, "id long, w double")
    s1 = sorted(r["id"] for r in weighted_sample(
        df, weight_col="w", k=60, id_col="id", seed=3, coin="md5").collect())
    s2 = sorted(r["id"] for r in weighted_sample(
        df, weight_col="w", k=60, id_col="id", seed=3, coin="md5").collect())
    assert s1 == s2 and len(s1) == 60
    assert 1000 not in s1 and 1001 not in s1
    heavy = sum(1 for i in s1 if i < 50)
    # 50 heavy rows at 100x weight should dominate a 60-row draw far
    # beyond their 10% population share
    assert heavy >= 30


# word-level corpora for the span-dedup differential: a small shared
# vocabulary makes cross-document repeated spans actually occur
_span_docs = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=0,
        max_size=10,
    ),
    min_size=1,
    max_size=8,
)


def _spans_reference(docs: list[list[str]], n: int) -> dict[int, tuple]:
    """Plain-Python remove_repeated_spans: any n-token window occurring
    in >1 doc is removed from every doc except the min-id holder."""
    grams: dict[tuple, set[int]] = {}
    windows: dict[int, list[tuple[int, tuple]]] = {}
    for i, toks in enumerate(docs):
        windows[i] = []
        for s in range(len(toks) - n + 1):
            g = tuple(toks[s : s + n])
            grams.setdefault(g, set()).add(i)
            windows[i].append((s, g))
    out = {}
    for i, toks in enumerate(docs):
        covered: set[int] = set()
        for s, g in windows[i]:
            holders = grams[g]
            if len(holders) > 1 and i != min(holders):
                covered.update(range(s, s + n))
        kept = [t for p, t in enumerate(toks) if p not in covered]
        out[i] = (" ".join(kept), len(toks), len(toks) - len(kept))
    return out


@settings(max_examples=25, deadline=None)
@given(_span_docs)
def test_remove_repeated_spans_matches_reference(spark, docs):
    """The round-5 reassembly rewrite (covered-position arrays +
    codegen array_except) must agree with the brute-force Python
    semantics on arbitrary corpora — keep-first, overlap handling,
    short/empty docs included."""
    from vectordb_migrator_spark.operators.cleaning import (
        remove_repeated_spans,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in remove_repeated_spans(df, n=3).collect()
    }
    assert got == _spans_reference(docs, 3)


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(_edges)
def test_triangle_counts_matches_bruteforce_property(spark, edges):
    """Hypothesis differential: on arbitrary (possibly self-looped,
    duplicated, both-direction) edge lists, degree-oriented triangle
    counting equals the brute-force enumeration."""
    import itertools

    from vectordb_migrator_spark.operators.graph import triangle_counts

    clean = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    if not clean:
        return
    adj = set(clean)
    verts = sorted({v for e in clean for v in e})
    want = {v: 0 for v in verts}
    for a, b, c in itertools.combinations(verts, 3):
        if (a, b) in adj and (a, c) in adj and (b, c) in adj:
            want[a] += 1
            want[b] += 1
            want[c] += 1
    df = spark.createDataFrame(list(edges), "id_a long, id_b long")
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=2, max_value=7),
    st.integers(min_value=20, max_value=60),
)
def test_rendezvous_movers_go_to_new_shard_property(spark, n, rows):
    """HRW invariant for arbitrary N: every row that changes shard
    when growing N → N+1 lands on the NEW shard."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.scale import rendezvous_assign

    df = spark.range(0, rows).withColumnRenamed("id", "doc_id")
    a = rendezvous_assign(df, n_shards=n, out_col="s0")
    a = rendezvous_assign(a, n_shards=n + 1, out_col="s1")
    bad = a.filter(
        (F.col("s0") != F.col("s1")) & (F.col("s1") != n)
    ).count()
    assert bad == 0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abc xyz "), min_size=3,
                max_size=30).filter(lambda s: s.strip()),
        min_size=2,
        max_size=15,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
def test_ppjoin_equals_bruteforce_property(spark, texts, threshold):
    """PPJoin (prefix + positional + length filters) returns exactly
    the brute-force shingle-Jaccard pairs at the threshold for ANY
    corpus — the filters must only ever cut cost, never results."""
    from vectordb_migrator_spark.operators.dedup import ppjoin_pairs

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, n=3, threshold=threshold).collect()
    }

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a = set(_py_shingles(docs[i][1], 3))
            b = set(_py_shingles(docs[j][1], 3))
            if not a or not b:
                continue
            jac = round(len(a & b) / len(a | b), 6)
            if jac >= threshold:
                want[(i, j)] = jac
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # duration
            st.booleans(),  # observed event vs censored
        ),
        min_size=1,
        max_size=40,
    )
)
def test_kaplan_meier_matches_python_reference(spark, units):
    """KM product-limit matches a direct Python implementation for
    any mix of tied events and censorings (standard convention:
    same-time censored units are still at risk at that time)."""
    from vectordb_migrator_spark.operators.timeseries import kaplan_meier

    df = spark.createDataFrame(
        [(float(t), int(e)) for t, e in units], "dur double, ev int"
    )
    got = {
        r["t"]: (r["n_at_risk"], r["n_events"], r["survival"])
        for r in kaplan_meier(
            df, duration_col="dur", event_col="ev"
        ).collect()
    }

    times = sorted({float(t) for t, _ in units})
    s = 1.0
    want = {}
    for t in times:
        n = sum(1 for d, _ in units if d >= t)
        dd = sum(1 for d, e in units if d == t and e)
        if dd == 0:
            continue
        s *= 1 - dd / n
        want[t] = (n, dd, round(s, 6))
    assert set(got) == set(want)
    for t, (n, dd, sv) in want.items():
        assert got[t][0] == n and got[t][1] == dd
        assert abs(got[t][2] - sv) < 1e-6


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),  # value
            st.integers(min_value=1, max_value=9),  # weight
        ),
        min_size=1,
        max_size=30,
    )
)
def test_weighted_quantiles_matches_python_reference(spark, rows):
    """Left-continuous weighted quantile: smallest value whose
    cumulative weight share reaches q — matches a direct Python scan
    for any value/weight mix including ties."""
    from vectordb_migrator_spark.operators.sketches import (
        weighted_quantiles,
    )

    df = spark.createDataFrame(
        [(float(v), float(w)) for v, w in rows], "v double, w double"
    )
    qs = [0.25, 0.5, 0.9]
    got = {
        r["q"]: r["value"]
        for r in weighted_quantiles(df, "v", "w", qs).collect()
    }

    agg: dict = {}
    for v, w in rows:
        agg[v] = agg.get(v, 0) + w
    total = sum(agg.values())
    for q in qs:
        cum = 0
        for v in sorted(agg):
            cum += agg[v]
            if cum >= q * total:
                assert got[q] == float(v), (q, got[q], v)
                break


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # coarse score: ties
            st.booleans(),
        ),
        min_size=2,
        max_size=40,
    ).filter(
        lambda xs: any(l for _, l in xs) and any(not l for _, l in xs)
    )
)
def test_auc_matches_pairwise_probability(spark, rows):
    """AUC from the rank statistic equals the direct pairwise
    P(score+ > score-) + half-ties for any tied/untied score mix."""
    from vectordb_migrator_spark.operators.scale import auc_score

    df = spark.createDataFrame(
        [(float(s), int(l)) for s, l in rows], "score double, label int"
    )
    got = auc_score(df, score_col="score", label_col="label").first()
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    direct = sum(
        1.0 if p > n else 0.5 if p == n else 0.0
        for p in pos for n in neg
    ) / (len(pos) * len(neg))
    assert abs(got["auc"] - direct) < 1e-6


@given(
    blocks=st.lists(
        st.lists(st.integers(min_value=0, max_value=255), min_size=1,
                 max_size=4),
        min_size=1,
        max_size=3,
    ),
    extra_w=st.integers(min_value=0, max_value=7),
    extra_h=st.integers(min_value=0, max_value=7),
    ri=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_block_constant_roundtrip_property(blocks, extra_w, extra_h, ri):
    """Pure-codec property (no Spark): ANY block-constant gray image —
    arbitrary per-block values, dims off the 8-grid, restart markers
    on/off — survives encode+decode EXACTLY with the unit quant table
    (DC-only blocks are an integer pipeline end to end), and the
    dc_only thumbnail equals the planted block values."""
    import numpy as np

    from vectordb_migrator_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
    )

    bh, bw = len(blocks), max(len(r) for r in blocks)
    grid = [[row[min(c, len(row) - 1)] for c in range(bw)] for row in blocks]
    h = bh * 8 - extra_h
    w = bw * 8 - extra_w
    px = np.zeros((h, w), np.uint8)
    for by in range(bh):
        for bx in range(bw):
            px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = grid[by][bx]
    payload = jpeg_encode(px, restart_interval=ri)
    rgb, nc = jpeg_decode(payload)
    assert nc == 1 and rgb.shape == (h, w, 3)
    assert np.array_equal(rgb[:, :, 0], px)
    thumb, _ = jpeg_decode(payload, dc_only=True)
    assert np.array_equal(
        thumb[:, :, 0], np.array(grid, np.uint8)[: thumb.shape[0]]
    )


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    h=st.integers(min_value=3, max_value=34),
    w=st.integers(min_value=3, max_value=34),
    gray=st.booleans(),
    sub420=st.booleans(),
    ri=st.integers(min_value=0, max_value=3),
    qscale=st.integers(min_value=1, max_value=16),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_progressive_equals_baseline_property(
    seed, h, w, gray, sub420, ri, qscale
):
    """Pure-codec property (no Spark): for ANY input, progressive
    (SOF2) encode persists exactly the quantized coefficients of the
    baseline encoder, so jpeg_decode of both streams must agree bit
    for bit — full decode and dc_only thumbnail, every sampling shape
    and restart interval."""
    import numpy as np

    from vectordb_migrator_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    px = rng.integers(0, 256, shape, dtype=np.uint8)
    sub = "420" if (sub420 and not gray) else "444"
    qt = np.arange(64).reshape(8, 8) % qscale + 1
    base = jpeg_encode(px, qtable=qt, subsampling=sub)
    prog = jpeg_encode_progressive(
        px, qtable=qt, subsampling=sub, restart_interval=ri
    )
    b_rgb, b_nc = jpeg_decode(base)
    p_rgb, p_nc = jpeg_decode(prog)
    assert b_nc == p_nc
    assert np.array_equal(b_rgb, p_rgb)
    assert np.array_equal(
        jpeg_decode(base, dc_only=True)[0],
        jpeg_decode(prog, dc_only=True)[0],
    )


@given(
    members=st.lists(
        st.tuples(
            st.text(alphabet=st.sampled_from("abcdef_/0123456789"),
                    min_size=1, max_size=30).filter(
                lambda s: not s.startswith("/") and "//" not in s
            ),
            st.binary(min_size=0, max_size=600),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None)
def test_tar_zip_codec_roundtrip_property(members):
    """Pure-codec property: arbitrary member names/payloads survive
    tar_encode and zip_encode, and both stdlib readers agree byte for
    byte (the interop direction the walkers are pinned on)."""
    import io
    import tarfile
    import zipfile

    from vectordb_migrator_spark.operators.multimodal import (
        tar_encode,
        zip_encode,
    )

    t = tarfile.open(fileobj=io.BytesIO(tar_encode(members)))
    got = {m.name: t.extractfile(m).read() for m in t.getmembers()}
    assert got == dict(members)

    z = zipfile.ZipFile(io.BytesIO(zip_encode(members)))
    assert z.testzip() is None
    got = {n: z.read(n) for n in z.namelist()}
    assert got == dict(members)


@given(
    orientation=st.one_of(st.none(), st.integers(min_value=1, max_value=8)),
    make=st.one_of(
        st.none(),
        st.text(alphabet=st.sampled_from(
            "abcdefghijklmnopqrstuvwxyz0123456789-_ "), min_size=1,
            max_size=40),
    ),
    dt=st.one_of(st.none(), st.tuples(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=28),
        st.integers(min_value=0, max_value=23),
        st.integers(min_value=0, max_value=59),
    )),
    big_endian=st.booleans(),
    icc=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_exif_builder_parser_roundtrip_property(
    orientation, make, dt, big_endian, icc
):
    """Pure-codec property: ANY combination of Exif fields survives
    exif_app1_segment -> splice -> jpeg_exif_meta in both TIFF byte
    orders, absent fields come back None, and the carrier image still
    decodes."""
    import numpy as np

    from vectordb_migrator_spark.operators.multimodal import (
        exif_app1_segment,
        icc_app2_segment,
        jpeg_decode,
        jpeg_encode,
        jpeg_exif_meta,
    )

    datetime = (
        None if dt is None
        else f"2021:{dt[0]:02d}:{dt[1]:02d} {dt[2]:02d}:{dt[3]:02d}:00"
    )
    base = jpeg_encode(np.full((8, 16), 33, np.uint8))
    extra = b""
    if orientation is not None or make is not None or datetime is not None:
        extra += exif_app1_segment(
            orientation=orientation, datetime=datetime, make=make,
            byte_order="MM" if big_endian else "II",
        )
    if icc:
        extra += icc_app2_segment()
    jb = base[:2] + extra + base[2:]
    m = jpeg_exif_meta(jb)
    has = orientation is not None or make is not None or datetime is not None
    assert m["has_exif"] is has
    assert m["orientation"] == orientation if has else m["orientation"] is None
    assert m["make"] == make if has else m["make"] is None
    assert m["exif_datetime"] == datetime if has else True
    assert m["icc_present"] is icc
    assert (m["width"], m["height"], m["progressive"]) == (16, 8, False)
    rgb, _ = jpeg_decode(jb)
    assert int(rgb[0, 0, 0]) == 33


@given(
    weights=st.lists(st.integers(min_value=0, max_value=10**9),
                     min_size=1, max_size=20),
    budget=st.integers(min_value=1, max_value=100_000),
)
@settings(max_examples=40, deadline=None)
def test_hamilton_apportion_sum_exact_property(spark, weights, budget):
    """Hamilton apportionment property: for ANY non-negative integer
    weights with a positive total, allocations sum EXACTLY to the
    budget and stay within the quota bracket — every row gets its
    exact floor quota or one more (the defining Hamilton property)."""
    from vectordb_migrator_spark.operators.scale import hamilton_apportion

    df = spark.createDataFrame(
        [(i, int(w)) for i, w in enumerate(weights)], "k long, w long"
    )
    rows = hamilton_apportion(
        df, key_col="k", weight_col="w", budget=budget
    ).collect()
    total = sum(weights)
    if total == 0:
        assert all(r["alloc"] is None for r in rows)
        return
    assert sum(r["alloc"] for r in rows) == budget
    for r in rows:
        fq = budget * weights[r["k"]] // total  # exact integer floor
        assert r["alloc"] in (fq, fq + 1), (r["k"], fq, r["alloc"])


@settings(max_examples=20, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1.0, max_value=1.0,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=64, max_size=64,
        ),
        min_size=2, max_size=25,
    )
)
def test_brp_md5_join_kernel_property(spark, vecs):
    """r12: over arbitrary float32 vectors (zeros, negatives,
    near-duplicates included) the Arrow sign-pass kernel and the
    Catalyst fold produce IDENTICAL joins, and every emitted pair
    passes the exact quantized-grid threshold (no false positives)."""
    import math as _m

    from vectordb_migrator_spark.operators.similarity import brp_md5_join

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    k = [tuple(r) for r in brp_md5_join(df).collect()]
    with kernels_off():
        h = [tuple(r) for r in brp_md5_join(df).collect()]
    assert k == h

    def quant(v):
        return [
            _m.floor(float(x) * 10000 + 0.5)
            if x >= 0
            else -_m.floor(-float(x) * 10000 + 0.5)
            for x in v
        ]

    q = {i: quant(v) for i, v in enumerate(vecs)}
    for ia, ib, _nb, dist in k:
        d2 = sum((a - b) ** 2 for a, b in zip(q[ia], q[ib]))
        assert d2 <= 144_000_000
        assert abs(dist - round(_m.sqrt(d2) / 10000.0, 6)) < 1e-9


@settings(max_examples=15, deadline=None)
@given(texts=_texts)
def test_span_corruption_reconstruction_property(spark, texts):
    """r12: on hypothesis-generated whitespace-heavy text, span
    corruption's sentinel substitution rebuilds the original token
    stream exactly for every document."""
    import re

    from vectordb_migrator_spark.operators.cleaning import span_corruption

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in span_corruption(df).collect()}
    for i, text in rows:
        orig = [t for t in re.split(r"\s+", text.strip().lower()) if t]
        if not orig:
            assert i not in out
            continue
        r = out[i]
        assert r["n_tokens"] == len(orig)
        parts = re.split(r"<X(\d+)>", r["target_text"])
        spans = {
            int(parts[j]): parts[j + 1].split()
            for j in range(1, len(parts) - 2, 2)
        }
        rebuilt = []
        for piece in r["input_text"].split():
            m = re.fullmatch(r"<X(\d+)>", piece)
            rebuilt += spans[int(m.group(1))] if m else [piece]
        assert rebuilt == orig, (i, text)
