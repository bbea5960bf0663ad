"""Dedup operator tests (X1/X2)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vectordb_migrator_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_text_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
    simhash_near_dup_pairs,
)


def test_exact_text_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc dd")], ["doc_id", "text"]
    )
    out = {r["keep_id"]: r["n_dups"] for r in exact_text_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["t"])
    out = [sorted(r[0]) for r in df.select(shingles("t", 3)).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]  # shorter than n → whole text as one shingle


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "utterly unrelated words entirely")],
        ["doc_id", "text"],
    )
    out = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"], out[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_agrees_with_exact(documents):
    """Every LSH-surfaced pair must also be in the exact-Jaccard pair
    set at the same threshold (LSH has no false positives after the
    verify step); recall on clear dups (j≥0.5) must be 100% here."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(documents, threshold=0.2).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(documents, jaccard_threshold=0.2).collect()
    }
    assert set(lsh) <= set(exact)
    clear = {p for p, j in exact.items() if j >= 0.5}
    assert clear <= set(lsh)


def test_simhash_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here")], ["doc_id", "text"]
    )
    sigs = [r[0] for r in df.select(simhash64("text")).collect()]
    assert sigs[0] == sigs[1]
    pairs = simhash_near_dup_pairs(df, max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_embedding_near_dup_blocked_vs_exact(embeddings):
    """Label-blocked pairs are a subset of all-pairs at the same
    threshold, and within-block results agree exactly."""
    blocked = embedding_near_dup_pairs(
        embeddings, block_col="label", threshold=0.7
    ).collect()
    allp = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dup_pairs(embeddings, threshold=0.7, allow_all_pairs=True).collect()
    }
    for r in blocked:
        assert allp[(r["id_a"], r["id_b"])] == r["cos"]


def test_dedup_plan_shuffles_hash_not_payload(documents):
    """Scale guard: the exact-dedup exchange must carry (fp, id), not
    the text column."""
    plan = (
        exact_text_dedup(documents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    exchange = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange and all("text" not in ln for ln in exchange)


def test_ngram_max_df_noop_above_corpus_max(documents):
    """With max_df at or above the corpus's gram df-max, the cap must
    not change a single pair or score."""
    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(documents, threshold=0.2).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            documents, threshold=0.2, max_df=10**9
        ).collect()
    }
    assert base == capped


def test_ngram_max_df_drops_hot_gram(spark):
    """Docs 1/2 share only the boilerplate gram that every doc carries;
    docs 3/4 share a rare gram too. A df cap below the corpus size
    must kill the boilerplate-only pair and keep the rare-gram pair
    (with the boilerplate gram no longer counted as common)."""
    boiler = "generated by export tool"
    rows = [(i, f"{boiler} filler{i} junk{i} pad{i}") for i in range(1, 9)]
    rows += [(10, f"{boiler} rare shared trigram a"),
             (11, f"{boiler} rare shared trigram b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"]) for r in
        ngram_jaccard_pairs(df, threshold=0.05).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]) for r in
        ngram_jaccard_pairs(df, threshold=0.05, max_df=5).collect()
    }
    assert (10, 11) in uncapped and (10, 11) in capped
    assert (1, 2) in uncapped and (1, 2) not in capped


def test_ngram_max_df_filter_in_plan(documents):
    """Scale guard: the df cap must appear in the DAG as a semi-join
    against the aggregated gram counts (drop-before-bucket), not as a
    post-bucket filter on collected lists."""
    plan = (
        ngram_jaccard_pairs(documents, threshold=0.2, max_df=50)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LeftSemi" in plan
    no_cap = (
        ngram_jaccard_pairs(documents, threshold=0.2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LeftSemi" not in no_cap


def test_minhash_max_bucket_noop_above_largest(documents):
    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            documents, jaccard_threshold=0.2
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            documents, jaccard_threshold=0.2, max_bucket=10**9
        ).collect()
    }
    assert base == capped


def test_minhash_star_cap_preserves_connectivity(spark):
    """A cluster of identical docs shares every band; with a tiny
    max_bucket the pair count collapses from O(N^2) to O(N) but the
    cluster must stay a single connected component."""
    from vectordb_migrator_spark.operators.graph import connected_components

    n = 12
    df = spark.createDataFrame(
        [(i, "exact duplicate boilerplate page content") for i in range(n)]
        + [(100, "completely different singleton document text")],
        ["doc_id", "text"],
    )
    pairs = minhash_near_dup_pairs(df, jaccard_threshold=0.5, max_bucket=4)
    rows = pairs.collect()
    assert 0 < len(rows) < n * (n - 1) // 2  # capped, not all-pairs
    comp = connected_components(pairs.select("id_a", "id_b"))
    groups = {}
    for r in comp.collect():
        groups.setdefault(r["comp"], set()).add(r["id"])
    assert set(range(n)) in groups.values()


def test_simhash_max_bucket_noop_and_star(spark, documents):
    base = {
        (r["id_a"], r["id_b"]) for r in
        simhash_near_dup_pairs(documents).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]) for r in
        simhash_near_dup_pairs(documents, max_bucket=10**9).collect()
    }
    assert base == capped
    n = 10
    dups = spark.createDataFrame(
        [(i, "same words repeated here") for i in range(n)],
        ["doc_id", "text"],
    )
    rows = simhash_near_dup_pairs(dups, max_hamming=0, max_bucket=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == {(0, i) for i in range(1, n)}  # star around min id


def test_lsh_near_dup_subset_of_all_pairs(spark):
    """LSH-blocked pairs must be a subset of the exact all-pairs result
    (same threshold), and every emitted cosine must be correct."""
    import random

    from vectordb_migrator_spark.operators.dedup import (
        embedding_near_dup_pairs,
        lsh_embedding_near_dup_pairs,
    )

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = []
    for i in range(40):
        if i % 4 == 0:  # planted near-dups of base
            v = [x + rng.uniform(-0.05, 0.05) for x in base]
        else:
            v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dup_pairs(df, threshold=0.9, allow_all_pairs=True).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_embedding_near_dup_pairs(df, planes, threshold=0.9).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)
    # planted dups share a bucket often enough to find SOME of them
    assert len(lsh) > 0


def test_lsh_near_dup_max_bucket_noop_and_star(spark):
    """Cap >= largest bucket → byte-identical results; a degenerate
    bucket (identical vectors all landing in one LSH cell) over the cap
    collapses to the min-id star but stays one connected component."""
    import random

    from vectordb_migrator_spark.operators.dedup import (
        lsh_embedding_near_dup_pairs,
    )
    from vectordb_migrator_spark.operators.graph import connected_components

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(3)]
    base = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_embedding_near_dup_pairs(
            df, planes, threshold=0.5
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_embedding_near_dup_pairs(
            df, planes, threshold=0.5, max_bucket=10**9
        ).collect()
    }
    assert base == capped

    n = 12
    dup = [1.0] * 8
    dups = spark.createDataFrame(
        [(i, dup) for i in range(n)], "vec_id long, embedding array<double>"
    )
    pairs = lsh_embedding_near_dup_pairs(
        dups, planes, threshold=0.9, max_bucket=4
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, i) for i in range(1, n)}  # star around min id
    comp = connected_components(pairs.select("id_a", "id_b"))
    groups = {}
    for r in comp.collect():
        groups.setdefault(r["comp"], set()).add(r["id"])
    assert set(range(n)) in groups.values()


def test_lsh_near_dup_multi_supersets_single_set(spark):
    """Stacking plane sets only ADDS recall: one set reproduces the
    single-set result exactly; two sets contain it, and every pair
    still carries the correct cosine."""
    import random

    from vectordb_migrator_spark.operators.dedup import (
        embedding_near_dup_pairs,
        lsh_embedding_near_dup_pairs,
        lsh_embedding_near_dup_pairs_multi,
    )

    rng = random.Random(5)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [
        (i, [x + rng.uniform(-0.05, 0.05) for x in base])
        if i % 3 == 0
        else (i, [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p1 = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    p2 = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]

    single = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_embedding_near_dup_pairs(df, p1, threshold=0.9).collect()
    }
    one_set = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_embedding_near_dup_pairs_multi(
            df, [p1], threshold=0.9
        ).collect()
    }
    assert one_set == single
    multi = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_embedding_near_dup_pairs_multi(
            df, [p1, p2], threshold=0.9
        ).collect()
    }
    assert set(single) <= set(multi)
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dup_pairs(df, threshold=0.9, allow_all_pairs=True).collect()
    }
    assert set(multi) <= set(exact)
    assert all(multi[k] == exact[k] for k in multi)


def test_apply_dedup_keeps_representatives(spark):
    from vectordb_migrator_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    # clusters: {0,1,2} → comp 0; {4,5} → comp 4; doc 3 unclustered
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (4, 4), (5, 4)], "id long, comp long"
    )
    kept = sorted(
        r["doc_id"] for r in apply_dedup(docs, clusters).collect()
    )
    assert kept == [0, 3, 4]


def test_incremental_dedup_semantics(spark):
    """Batch docs reject against corpus AND earlier batch docs; the
    corpus never dedups against itself; a rejected batch doc still
    rejects its own later near-dups (signature-store behavior)."""
    from vectordb_migrator_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # corpus dup — untouched
            (3, "totally unrelated corpus text here"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),   # dups corpus → drop
            (11, "fresh unseen content first time"),  # survives
            (12, "fresh unseen content first time"),  # dups doc 11 → drop
            (13, "alpha beta gamma delta epsilon"),   # dups corpus AND 10 → drop
            (14, "another novel document entirely new"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(batch, corpus, n=3, threshold=0.5).collect()
    )
    assert kept == [11, 14]


def test_semantic_dedup_direct_pair_survivors(spark):
    """Within a cluster the min-id of each direct near-dup pair
    survives; rows in different clusters never pair even if similar;
    chains are NOT transitively closed (A~B, B~C, A≁C keeps A and C)."""
    from vectordb_migrator_spark.operators.dedup import semantic_dedup

    # two well-separated centroids on the x / y axes
    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [10.0, 0.0]),    # cluster 0
        (2, [10.0, 0.01]),   # cluster 0, ~dup of 1 → dropped
        (3, [0.0, 10.0]),    # cluster 1 — similar to nothing in its cluster
        (4, [8.0, 6.1]),     # cluster 0 (closer to x-ish? dist to c0 < c1)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, cents, threshold=0.999)
    kept = sorted(r["vec_id"] for r in out.collect())
    assert kept == [1, 3, 4]
    # cluster column rides along
    assert "cluster" in out.columns


def test_semantic_dedup_direct_vs_component(spark):
    """The keep rule is 'drop iff a SMALLER-id near-dup exists': with
    pairs (1,3) and (2,3) but 1≁2, both 1 and 2 survive — a
    connected-components closure would keep only the component min 1.
    A chain 1~2~3 (1≁3) keeps only 1: 2 drops via 1, 3 drops via 2
    even though 2 itself was dropped."""
    import math

    from vectordb_migrator_spark.operators.dedup import semantic_dedup

    def unit(theta):
        return [math.cos(theta), math.sin(theta)]

    t = math.radians(16.0)  # cos(16°)≈0.961, cos(32°)≈0.848
    # star: 3 sits between 1 and 2 → pairs (1,3),(2,3); (1,2) below τ
    df = spark.createDataFrame(
        [(1, unit(0.0)), (2, unit(2 * t)), (3, unit(t))],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, [[1.0, 0.0]], threshold=0.9)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 2]

    # chain: 1~2, 2~3, 1≁3 → only 1 survives (3 dropped by dropped 2)
    chain = spark.createDataFrame(
        [(1, unit(0.0)), (2, unit(t)), (3, unit(2 * t))],
        "vec_id long, embedding array<double>",
    )
    out2 = semantic_dedup(chain, [[1.0, 0.0]], threshold=0.9)
    assert sorted(r["vec_id"] for r in out2.collect()) == [1]


def test_embedding_cross_near_dup_blocks_and_broadcasts(spark):
    """Cross-set pairs only (never train-train or eval-eval); pairs
    split across LSH buckets are missed (documented recall trade);
    the eval side is broadcast (plan assertion)."""
    from vectordb_migrator_spark.operators.dedup import embedding_cross_near_dup

    planes = [[1.0, 0.0]]  # bucket = sign of x
    train = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, [1.0, 0.005]), (101, [-1.0, -0.01])],
        "vec_id long, embedding array<double>",
    )
    out = embedding_cross_near_dup(train, ev, planes, threshold=0.9)
    got = {(r["train_id"], r["eval_id"]) for r in out.collect()}
    # bucket 1 (x>=0): train 1,2 × eval 100; bucket 0: train 3 × eval 101
    assert got == {(1, 100), (2, 100), (3, 101)}
    assert "BroadcastExchange" in out._jdf.queryExecution().executedPlan().toString()


def test_minhash_md5_pairs_finds_exact_dups_and_caps(spark):
    """Identical documents share every band under ANY hash family, so
    the md5 variant must always pair them; the star-cap keeps the
    bucket linear; near-identical docs (one token changed) pair with
    high probability under r=4 banding."""
    from vectordb_migrator_spark.operators.dedup import minhash_md5_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(5)]                 # exact dups
    rows.append((10, base.replace("lazy", "sleepy")))    # near-dup
    rows.append((11, "entirely different content with no overlap here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_md5_pairs(df, max_bucket=50).collect()}
    for i in range(5):
        for j in range(i + 1, 5):
            assert (i, j) in pairs
    assert not any(11 in p for p in pairs)

    # cap: with max_bucket=2 the 5-dup bucket degrades to a star on 0
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_md5_pairs(df, max_bucket=2).collect()}
    assert {(0, j) for j in range(1, 5)} <= capped
    assert (1, 2) not in capped


def test_simhash_md5_pairs_exact_dups_zero_hamming(spark):
    """Identical docs get identical md5-simhash fingerprints (hamming
    0) and always pair; a doc with no token overlap does not pair at
    a tight threshold."""
    from vectordb_migrator_spark.operators.dedup import simhash_md5_pairs

    base = "spark structured streaming handles late data with watermarks " \
           "and stateful operators across micro batches"
    rows = [(1, base), (2, base),
            (3, "completely unrelated words about cooking pasta dinner " * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_md5_pairs(df, max_hamming=3).collect()}
    assert out.get((1, 2)) == 0
    assert not any(3 in k for k in out)


def test_minhash_md5_signature_matches_python(spark):
    """The in-plan md5 MinHash signature equals a hashlib
    reimplementation — validates the conv/substring/fold pipeline
    bit-for-bit, independent of DuckDB."""
    import hashlib

    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.dedup import shingles

    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")

    def h(i, s):
        return int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16)

    toks = text.lower().split()
    gs = sorted({" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)})
    expected = [min(h(i, s) for s in gs) for i in range(16)]

    def hh(i, t):
        return F.conv(
            F.substring(F.md5(F.concat(i.cast("string"), F.lit(":"), t)), 1, 8),
            16, 10,
        ).cast("long")

    sig = F.aggregate(
        shingles("text", 3),
        F.array_repeat(F.lit(1 << 33).cast("long"), 16),
        lambda acc, t: F.transform(acc, lambda m, i: F.least(m, hh(i, t))),
    )
    got = df.select(sig.alias("s")).first()["s"]
    assert got == expected


def test_containment_catches_embedded_quote(spark):
    """A short doc fully contained in a long one: containment = 1.0
    while Jaccard stays below any sane resemblance threshold."""
    from vectordb_migrator_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "to be or not to be that is the question"
    filler = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, f"{filler} {quote}"), (2, quote)], "doc_id long, text string"
    )
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(df, n=3, threshold=0.9).collect()}
    assert cont.get((1, 2)) == 1.0
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.2).collect()
    assert not jac  # resemblance misses the embedded quote


def test_embedding_near_dup_all_pairs_requires_opt_in(embeddings):
    """block_col=None without allow_all_pairs must raise — the O(N²)
    crossJoin is a deliberate small-corpus verification mode, never a
    default (round-5 guard)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="allow_all_pairs"):
        embedding_near_dup_pairs(embeddings, threshold=0.7)


def test_apply_dedup_best_keeps_highest_quality(spark):
    """Quality-keeper apply: per cluster the max-quality member
    survives (tie -> lower id); unclustered rows always survive."""
    from vectordb_migrator_spark.operators.dedup import apply_dedup_best

    df = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 2), (7, 1)],
        "doc_id long, quality long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)],  # {1,2,3} cluster; {4} singleton
        "id long, comp long",
    )
    kept = sorted(
        r["doc_id"]
        for r in apply_dedup_best(df, clusters, quality_col="quality").collect()
    )
    # cluster {1,2,3}: 2 and 3 tie on quality 9 -> keep 2 (lower id);
    # singleton cluster {4} keeps its only member; 7 unclustered
    assert kept == [2, 4, 7]


def test_leakage_safe_split_semantics(spark):
    """x0_leakage_safe_split: leaked ⇔ non-train AND near-dup of some
    train doc; train rows are never flagged."""
    from tests.conftest import SF_DIR
    from vectordb_migrator_spark.suite import QUERIES

    rows = QUERIES["x0_leakage_safe_split"](spark, SF_DIR).collect()
    split = {r["doc_id"]: r["split"] for r in rows}
    leaked = {r["doc_id"] for r in rows if r["leaked"]}
    assert all(split[d] != "train" for d in leaked)

    from vectordb_migrator_spark.operators.dedup import ngram_jaccard_pairs
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()
    expect = set()
    for p in pairs:
        a, b = p["id_a"], p["id_b"]
        if split[a] == "train" and split[b] != "train":
            expect.add(b)
        if split[b] == "train" and split[a] != "train":
            expect.add(a)
    assert leaked == expect and len(rows) == docs.count()


def test_lang_balanced_mixture_upweights_rare(spark):
    """alpha<1 temperature mixing must give RARE languages more epochs
    than proportional sampling would — the whole point of the recipe."""
    from tests.conftest import SF_DIR
    from vectordb_migrator_spark.functions.text import lang_id
    from vectordb_migrator_spark.operators.slicing import source_mixture
    import pyspark.sql.functions as F

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", lang_id("text").alias("lang_pred"))
    )
    mix = {
        r["source"]: r
        for r in source_mixture(
            docs, source_col="lang_pred", alpha=0.3, budget=800
        ).collect()
    }
    sizes = {k: r["size"] for k, r in mix.items()}
    big = max(sizes, key=sizes.get)
    small = min(sizes, key=sizes.get)
    assert sizes[big] > sizes[small]
    # epochs = target/size: the small language must get strictly more
    # passes over its data than the big one
    assert mix[small]["epochs"] > mix[big]["epochs"]


def test_ppjoin_pairs_matches_bruteforce(spark):
    """Prefix-filtered exact join returns EXACTLY the brute-force
    Jaccard pairs at the threshold (prefix filtering affects cost,
    never results) on a randomized corpus with planted near-dups."""
    import itertools
    import random

    from vectordb_migrator_spark.operators.dedup import ppjoin_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        words = rng.choices(vocab, k=rng.randint(4, 12))
        docs.append((i, " ".join(words)))
    # planted near-dups: copy with one word changed
    for i in range(3):
        base = docs[i][1].split()
        base[0] = "zz"
        docs.append((100 + i, " ".join(base)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, n=2, threshold=0.5).collect()
    }

    def bigrams(t):
        w = t.lower().split()
        return set(" ".join(w[i:i + 2]) for i in range(len(w) - 1))

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        a, b = bigrams(ta), bigrams(tb)
        if not a or not b:
            continue
        jac = len(a & b) / len(a | b)
        if round(jac, 6) >= 0.5:
            key = (min(ia, ib), max(ia, ib))
            want[key] = round(jac, 6)

    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6
    assert len(want) >= 3  # the planted near-dups are found


# ----------------------------------------------------------------- CDC


def _cdc_python(text, m=8):
    """hashlib replica of the md5 boundary rule + chunk assembly."""
    import hashlib
    import re

    toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
    chunks, cur = [], []
    for t in toks:
        cur.append(t)
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        if h % m == 0:
            chunks.append(" ".join(cur))
            cur = []
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def test_cdc_chunks_matches_hashlib_replica(spark):
    import hashlib

    from vectordb_migrator_spark.operators.dedup import cdc_chunks

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, ""),
        (3, "   "),
        (4, "single"),
        (5, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df, avg_tokens=8).collect():
        got.setdefault(r["id"], []).append(
            (r["chunk_no"], r["chunk_text"], r["chunk_md5"])
        )
    for doc_id, text in rows:
        want = _cdc_python(text)
        have = sorted(got.get(doc_id, []))
        assert [c[1] for c in have] == want, doc_id
        assert [c[0] for c in have] == list(range(len(want)))
        for _, ctext, cmd5 in have:
            assert cmd5 == hashlib.md5(ctext.encode()).hexdigest()


def test_cdc_shift_robustness(spark):
    """The property CDC exists for: prepending a sentence to a copy
    leaves every non-edited chunk's hash intact, so the pair is still
    linked — while the fixed-window shingle stream is fully shifted."""
    from vectordb_migrator_spark.operators.dedup import (
        cdc_chunks,
        cdc_pair_candidates,
    )

    base = " ".join(f"word{i}" for i in range(120))
    shifted = "a freshly prepended leading sentence " + base
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    chunks = cdc_chunks(df, avg_tokens=8)
    n1 = chunks.filter("id = 1").count()
    pairs = cdc_pair_candidates(chunks, min_shared=2).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2)
    # all but the chunk(s) touched by the prefix still match
    assert p["shared"] >= n1 - 2


def test_cdc_pair_candidates_star_cap(spark):
    """A hub chunk shared by many docs only links the min-id anchor
    once the bucket exceeds max_bucket."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.dedup import cdc_pair_candidates

    rows = [(i, 0, "common text", "h1") for i in range(10)]
    rows += [(i, 1, "more common", "h2") for i in range(10)]
    df = spark.createDataFrame(
        rows, "id long, chunk_no long, chunk_text string, chunk_md5 string"
    )
    capped = cdc_pair_candidates(df, min_shared=2, max_bucket=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # only anchor-0 pairs survive the cap
    assert got == {(0, i) for i in range(1, 10)}
    assert (
        capped.agg(F.min("shared")).first()[0] == 2
    )


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c\tx"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=10, deadline=None)
def test_cdc_chunks_reconstruct_token_stream(spark, texts):
    """Invariant: the ordered chunk texts re-join to exactly the
    normalized token stream — no token lost, duplicated, or moved by
    the chunker, for arbitrary whitespace-mangled inputs."""
    import re

    from vectordb_migrator_spark.operators.dedup import cdc_chunks

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df, avg_tokens=4).collect():
        got.setdefault(r["id"], []).append((r["chunk_no"], r["chunk_text"]))
    for i, t in rows:
        toks = [w for w in re.split(r"\s+", t.strip().lower()) if w]
        chunks = [c for _, c in sorted(got.get(i, []))]
        assert " ".join(chunks).split(" ") == toks or (
            not toks and not chunks
        )


def test_cdc_streaming_store_matches_batch(spark, tmp_path):
    """Round-8 X2×X8: cdc_chunk_ingest accumulates (id, chunk_md5)
    rows per batch and cdc_pairs_over answers EXACTLY the batch
    cdc_pair_candidates over the full corpus; replays append
    nothing. The second batch's doc is an insert-shifted copy of a
    first-batch doc — the cross-batch pair only exists because chunk
    hashes are content-only."""
    from vectordb_migrator_spark.operators.dedup import (
        cdc_chunks,
        cdc_pair_candidates,
    )
    from vectordb_migrator_spark.streaming.incremental import (
        cdc_chunk_ingest,
        cdc_pairs_over,
    )

    src = str(tmp_path / "in")
    schema = "doc_id long, text string"
    base = " ".join(f"tok{i}" for i in range(80))
    b1 = [(1, base), (2, "totally unrelated words here")]
    spark.createDataFrame(b1, schema).write.parquet(src)

    kw = dict(
        source_path=src,
        source_schema=schema,
        store_path=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ck"),
    )

    def run():
        cdc_chunk_ingest(spark, **kw).awaitTermination(120)

    run()
    b2 = [(3, "a fresh leading sentence " + base)]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    run()

    full = spark.createDataFrame(b1 + b2, schema)
    want = sorted(
        (r["id_a"], r["id_b"], r["shared"])
        for r in cdc_pair_candidates(
            cdc_chunks(full), min_shared=2
        ).collect()
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["shared"])
        for r in cdc_pairs_over(
            spark, str(tmp_path / "store"), min_shared=2
        ).collect()
    )
    assert got == want
    assert any(a == 1 and b == 3 for a, b, _ in got)  # cross-batch pair

    n = spark.read.parquet(str(tmp_path / "store")).count()
    run()  # replay idempotence
    assert spark.read.parquet(str(tmp_path / "store")).count() == n

    # replay: drop the last commit marker so batch 1 re-executes with
    # the SAME batch_id — the id-only guard must hold
    import os

    os.remove(str(tmp_path / "ck" / "commits" / "1"))
    crc = tmp_path / "ck" / "commits" / ".1.crc"
    if crc.exists():
        crc.unlink()
    run()
    assert spark.read.parquet(str(tmp_path / "store")).count() == n


def test_oph_signatures_densified_and_unbiasedish(spark):
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.operators.dedup import oph_signatures

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = [
        (0, base),
        (1, base + " with a small tail change here"),  # near-dup of 0
        (2, "completely different content about spark engines and "
            "distributed joins across partitioned tables"),
        (3, "tiny doc three words"),  # short -> empty bins
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in oph_signatures(df, k=16).collect()}
    # densification: NO dense slot may stay NULL, even for the tiny doc
    for r in out.values():
        assert all(v is not None for v in r["dense"])
        assert 0.0 <= r["empty_share"] <= 1.0
    assert out[3]["empty_share"] > 0.5  # 1-2 shingles can't fill 16 bins

    def match(a, b):
        return sum(x == y for x, y in zip(a, b)) / 16.0

    sim_near = match(out[0]["dense"], out[1]["dense"])
    sim_far = match(out[0]["dense"], out[2]["dense"])
    assert sim_near > sim_far  # estimator orders pairs correctly
    assert sim_far <= 2 / 16  # unrelated docs share (almost) nothing


def test_embedding_near_dup_arrow_path_bit_identical_to_join(spark, embeddings):
    """The r11 Arrow fast path must reproduce the legacy blocked
    self-join BIT-FOR-BIT: the kernel's per-dimension accumulation
    loops preserve the zip_with/aggregate left-fold addition order,
    so pair sets AND rounded cos values are equal at any threshold."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.functions.vector import (
        cosine_similarity,
        l2_normalize,
    )
    from vectordb_migrator_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    normed = embeddings.select(
        F.col("vec_id").alias("id"),
        l2_normalize("embedding").alias("v"),
        F.col("label").alias("blk"),
    )
    a = normed.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), "blk"
    )
    b = normed.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), "blk"
    )
    for thr in (-1.0, 0.0):
        legacy = {
            (r[0], r[1]): r[2]
            for r in (
                a.join(b, ["blk"])
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("cos", cosine_similarity("v_a", "v_b"))
                .filter(F.col("cos") >= thr)
                .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
            ).collect()
        }
        new = {
            (r[0], r[1]): r[2]
            for r in embedding_near_dup_pairs(
                embeddings, block_col="label", threshold=thr
            ).collect()
        }
        assert legacy == new, thr
        assert len(new) > 0  # non-vacuous at these thresholds


def test_embedding_near_dup_kernel_block_cap_fallback(spark, embeddings):
    """r11 ADVICE (medium): blocks past kernel_block_cap route
    through the distributed self-join instead of one-worker Arrow
    materialization — and because the two paths are bit-identical,
    any cap value yields the same pairs and rounded cos values."""
    from vectordb_migrator_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    def pairs(**kw):
        return {
            (r[0], r[1]): r[2]
            for r in embedding_near_dup_pairs(
                embeddings, block_col="label", threshold=0.0, **kw
            ).collect()
        }

    default = pairs()
    forced_join = pairs(kernel_block_cap=1)  # every block falls back
    mixed = pairs(kernel_block_cap=40)  # some blocks each way
    assert default == forced_join == mixed
    assert len(default) > 0


def test_embedding_near_dup_nonfinite_vectors_excluded(spark):
    """r11 ADVICE: NaN/Inf vectors are filtered up front in BOTH
    paths — Spark's join treats NaN >= threshold as true while the
    NumPy kernel drops it, so without the filter the capped and
    uncapped paths disagreed. All four plan shapes must agree and
    emit no pair touching the non-finite rows."""
    from pyspark.sql import functions as F  # noqa: F401

    from vectordb_migrator_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [1.0, 0.001], "a"),
            (3, [nan, 1.0], "a"),
            (4, [inf, 0.0], "a"),
            (5, [0.5, 0.5], "b"),
            (6, [0.5, 0.501], "b"),
            (7, [1.0, nan], "b"),
        ],
        "vec_id long, embedding array<double>, label string",
    )

    def pairs(**kw):
        return {
            (r[0], r[1])
            for r in embedding_near_dup_pairs(
                df, threshold=0.9, **kw
            ).collect()
        }

    kernel = pairs(block_col="label")
    joined = pairs(block_col="label", kernel_block_cap=1)
    capped = pairs(block_col="label", max_bucket=2)
    allp = pairs(allow_all_pairs=True)
    assert kernel == joined == allp == {(1, 2), (5, 6)}
    # the star cap keeps min-id connectivity only; still NaN-free
    assert all(i not in (3, 4, 7) for p in capped for i in p)
    assert (1, 2) in capped and (5, 6) in capped


def test_decontamination_report_planted_leak(spark):
    """A candidate that quotes a benchmark document verbatim is
    flagged; one sharing no trigram has containment 0; sub-n texts
    fall back to the whole-text gram; empty-shingle safety."""
    from vectordb_migrator_spark.operators.dedup import (
        decontamination_report,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over the lazy"),  # verbatim span
            (2, "alpha beta gamma delta epsilon zeta"),  # disjoint
            (3, "lazy dog"),  # sub-n: whole-text gram, present
            (4, "big cat"),   # sub-n: whole-text gram, absent
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontamination_report(
            cands, bench, n=3, threshold=0.5
        ).collect()
    }
    assert out[1]["containment"] == 1.0 and out[1]["contaminated"]
    assert out[2]["n_hit"] == 0 and not out[2]["contaminated"]
    # "lazy dog" is a bigram of the benchmark text but NOT one of its
    # trigram shingles, so the whole-text gram misses: n_hit == 0
    assert out[3]["n_shingles"] == 1 and out[3]["n_hit"] == 0
    assert out[4]["n_hit"] == 0


def test_ngram_novelty_planted_order(spark):
    """First doc is 100% novel; an exact later copy is 0% novel; a
    half-overlap doc scores its fresh fraction; ordering is by id."""
    from vectordb_migrator_spark.operators.dedup import (
        ngram_novelty_report,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),            # grams: abc bcd cde — all new
            (2, "a b c d e"),            # exact copy — nothing new
            (3, "c d e f g"),            # cde seen; def efg new
            (4, "zz"),                   # sub-n whole-text gram, new
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty_report(df).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    assert out[3]["n_shingles"] == 3 and out[3]["n_novel"] == 2
    assert abs(out[3]["novelty"] - round(2 / 3, 6)) < 1e-9
    assert out[4]["novelty"] == 1.0


def test_semantic_dedup_fp_planted_duplicates(spark):
    """Planted structure: ids 0..7 seed the fixed-point fit with 4
    distinct directions; near-exact copies of direction 0 must all
    lose to the smallest id in their cluster, while orthogonal
    directions survive."""
    from vectordb_migrator_spark.operators.dedup import semantic_dedup_fp

    dirs = [
        [1.0] + [0.0] * 7,
        [0.0, 1.0] + [0.0] * 6,
        [0.0, 0.0, 1.0] + [0.0] * 5,
        [0.0, 0.0, 0.0, 1.0] + [0.0] * 4,
    ]
    rows = []
    for i in range(8):  # seeds: two per direction
        rows.append((i, [v * (1.0 + 0.01 * i) for v in dirs[i % 4]]))
    for i in range(8, 24):  # copies of direction 0 with tiny jitter
        v = list(dirs[0])
        v[4] = 0.001 * (i - 8)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup_fp(
        df, k_clusters=4, n_iter=2, threshold=0.95
    ).collect()
    kept = {r["vec_id"] for r in out}
    # every direction keeps at least one representative
    clusters = {r["vec_id"]: r["cluster"] for r in out}
    assert len(set(clusters.values())) >= 3
    # the direction-0 pile collapses: of ids 8..23 plus their seeds,
    # only the smallest-id representative(s) survive
    dir0 = [i for i in kept if i >= 8]
    assert len(dir0) == 0, dir0  # all copies lose to an earlier id
    assert 0 in kept  # the first seed survives (nothing precedes it)
