"""Connected components over a pair list — near-dup *pairs* →
dedup *clusters* (keep one doc per component; drop the rest).

Iterative min-label propagation with pointer jumping: every vertex
starts labeled with its own id; each round every vertex takes the min
label among itself and its neighbors, then labels compress one hop
(``comp ← comp(comp)``). The compression halves remaining chain
lengths, so convergence is O(log diameter) rounds instead of
O(diameter) — a 1M-long path converges in ~20 rounds, and near-dup
clusters (dense, tiny diameter) converge in 2-3.

Scale notes:
- Each round is two shuffles (message groupBy + label join), all on
  (id, label) longs — payloads never enter the loop.
- ``localCheckpoint`` truncates lineage every round; without it the
  plan doubles per iteration and the driver dies of analysis long
  before the data is the problem.
- The convergence check is one count per round — an O(1)-row action
  on an already-computed aggregate.

This is the standard dataflow CC (label propagation); for graphs with
huge diameter switch to large-star/small-star — near-dup graphs don't
need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_migrator_spark.operators import util

#: Largest edge sets the single-task kernels take: ~64 MB of long pairs
#: for CC, two-phase CC and LPA; pagerank's per-element Decimal replay
#: keeps a modest bound.
_KERNEL_MAX_EDGES = 4_000_000
_PAGERANK_KERNEL_MAX_EDGES = 100_000


def _cc_kernel(und: DataFrame) -> DataFrame:
    """Single-task connected components over a small symmetrized edge
    frame: numpy min-label propagation with pointer jumping inside one
    mapInPandas kernel. Exact — the fixed point of min-over-neighbors
    labels seeded with sorted-id index IS the minimum reachable id —
    and O(E·log n) C-speed vector ops, so a few million edges cost
    milliseconds where each dataflow round costs a scheduled multi-
    stage job. Guarded by the edge count in :func:`connected_components`;
    never used for graphs that could not fit one task."""

    def k(batches):
        import numpy as np
        import pandas as pd

        a_parts, b_parts = [], []
        for pdf in batches:
            a_parts.append(pdf["a"].to_numpy(dtype="int64"))
            b_parts.append(pdf["b"].to_numpy(dtype="int64"))
        if not a_parts:
            return
        a = np.concatenate(a_parts)
        b = np.concatenate(b_parts)
        if a.size == 0:
            return
        ids = np.unique(np.concatenate([a, b]))
        ai = np.searchsorted(ids, a)
        bi = np.searchsorted(ids, b)
        lab = np.arange(ids.size, dtype=np.int64)
        while True:
            before = lab.copy()
            m = np.minimum(lab[ai], lab[bi])
            np.minimum.at(lab, ai, m)
            np.minimum.at(lab, bi, m)
            # pointer jump: labels always index a vertex with a label
            # <= its own, so composing halves remaining chain lengths
            lab = np.minimum(lab, lab[lab])
            if np.array_equal(lab, before):
                break
        yield pd.DataFrame({"id": ids, "comp": ids[lab]})

    return und.coalesce(1).mapInPandas(k, schema="id long, comp long")


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (id, component) for every vertex that appears in an edge;
    ``component`` is the minimum vertex id reachable. Raises if not
    converged within ``max_iter`` rounds (defensive — dup clusters
    converge in a handful).

    Backend selection (r13, guide §2/§5): near-dup edge sets are
    usually FAR smaller than the corpus that produced them, and every
    dataflow round costs a scheduled shuffle job regardless of size —
    measured ~1 s/round over a 1k-edge graph, pure coordination. So
    after the (always-needed) symmetrize+distinct checkpoint, one
    cheap count on the checkpointed frame picks the backend: at most
    ``_KERNEL_MAX_EDGES`` symmetrized edges run as a single vectorized
    numpy kernel via :func:`_cc_kernel`; anything larger keeps the
    iterative dataflow below. Both produce the identical (id,
    min-reachable-id) result.
    """
    und = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    und = und.distinct().localCheckpoint(eager=True)

    if {f.dataType.simpleString() for f in und.schema.fields} <= {
        "bigint"
    } and util.kernel_ok(und.count(), _KERNEL_MAX_EDGES):
        # eager: match the iterative path's contract of returning an
        # already-materialized checkpoint (multi-consumer callers read
        # it without re-running the kernel)
        return _cc_kernel(und).localCheckpoint(eager=True)

    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        # lazy: the seed-checksum probe right below materializes it —
        # the probe therefore costs no extra job (r13)
        .localCheckpoint(eager=False)
    )

    # Convergence probe (r12 opt): per-vertex labels are NON-INCREASING
    # (every update is a min), so Σcomp strictly decreases while any
    # vertex still moves — an unchanged (Σcomp, n) pair ⇔ a fixed
    # point. The exact DECIMAL(38,0) sum replaces the earlier
    # carried-comp_old filter+count, which needed the old label joined
    # through every round's plan. Values are untouched: the per-round
    # label trajectory is the same min/least dataflow as before.
    # prev seeds with the INITIAL labels' checksum (r12 ADVICE): an
    # already-fixed input (self-loop-only edges) then converges at the
    # round-1 probe instead of needing a second round, and a graph
    # whose last label change lands exactly in round max_iter no
    # longer raises spuriously.
    row0 = labels.agg(
        F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    prev: tuple | None = (row0["s"], row0["n"])
    for _ in range(max_iter):
        # min over self ∪ neighbor labels, via union + one aggregate
        # (r12 opt: replaces join + groupBy + left-join — one exchange
        # and one stage fewer per round, identical min semantics)
        msgs = und.join(labels, und.b == labels.id).select(
            und.a.alias("id"), F.col("comp")
        )
        new1 = (
            msgs.union(labels)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping: comp ← comp(comp) — one self-join hop
        hop = new1.select(
            F.col("id").alias("jid"), F.col("comp").alias("jcomp")
        )
        new_labels = (
            new1.join(hop, new1.comp == hop.jid, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("jcomp"), F.col("comp"))
                ).alias("comp"),
            )
            # lazy: the convergence probe right below materializes it
            # in the same job (r12 — one scheduling round trip per
            # round instead of two; labels are ids, values unchanged)
            .localCheckpoint(eager=False)
        )
        row = new_labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        cur = (row["s"], row["n"])
        labels = new_labels
        if cur == prev:
            return labels
        prev = cur
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def connected_components_two_phase(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    huge-diameter-safe backend (Kiveris et al., *Connected Components
    in MapReduce and Beyond*, SoCC'14). Same output contract as
    :func:`connected_components`: (id, component-min) for every vertex
    appearing in an edge, self-loop-only vertices labeled themselves.

    Per round:
    - **large-star**: per node u over its FULL neighborhood,
      m = min(Γ(u) ∪ {u}); emit (v, m) for every strictly LARGER
      neighbor v — long chains collapse toward local minima.
    - **small-star**: orient edges to the larger endpoint; per node u
      over its smaller neighbors N(u), m = min(N(u)); emit (v, m) for
      v ∈ N(u) plus (u, m) — stars re-root at the smallest member.

    Converges in O(log² n) rounds REGARDLESS of graph diameter (the
    label-propagation default needs O(log diameter) rounds but carries
    a per-round join against a vertex-label table; the star rounds
    rewrite only the edge list). Prefer this backend when dup
    families can chain very long — boilerplate templates, near-empty
    docs — or when the pair table dwarfs the vertex count.

    Scale shape: every round is two groupBy shuffles over (long, long)
    edges — ids only, no payloads, no vertex-table join;
    ``localCheckpoint`` truncates lineage per round. Convergence is
    detected by an edge-set checksum (count + sum of ``xxhash64`` —
    a 64-bit-sum collision, not order, is the only failure mode and is
    astronomically unlikely); raises after ``max_iter`` rounds
    (defensive — the bound is logarithmic, real dup graphs converge in
    a handful)."""
    verts = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select(
            F.least("lo", "hi").alias("lo"), F.greatest("lo", "hi").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(d: DataFrame) -> tuple:
        # decimal(38,0) sum: overflow-free under ANSI mode
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = _checksum(e)
    # Size-guarded single-task backend (r13, same pattern as
    # connected_components): the checksum above already counted the
    # deduplicated edge set, so the guard costs nothing. Both backends
    # compute the same pure function of the graph — (id, min reachable
    # id) — so the numpy kernel's output is value-identical; large
    # graphs keep the alternating-star dataflow below.
    if util.kernel_ok(prev[0], _KERNEL_MAX_EDGES) and {
        f.dataType.simpleString() for f in e.schema.fields
    } <= {"bigint"}:
        sym = e.select(
            F.col("lo").alias("a"), F.col("hi").alias("b")
        ).union(e.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
        comp_map = _cc_kernel(sym)
        return verts.join(comp_map, "id", "left").select(
            "id", F.coalesce("comp", F.col("id")).alias("comp")
        )
    converged = e.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        # large-star: full neighborhoods -> (bigger neighbor, local min)
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            # m = min(Γ(u) ∪ {u}) ≤ u < v, so (v, m) is already (hi, lo).
            # NOT deduplicated: duplicates cannot change the small-star
            # min and the round ends in a distinct anyway — skipping the
            # exchange saves one shuffle per round.
            .select(
                F.least(F.col("mn"), F.col("u")).alias("lo"),
                F.col("v").alias("hi"),
            )
        )
        # small-star: smaller neighbors re-rooted at their min
        gm = ls.groupBy("hi").agg(F.min("lo").alias("mn"))
        ss_nb = (
            ls.join(gm, "hi")
            .filter(F.col("lo") != F.col("mn"))
            .select(F.col("mn").alias("lo"), F.col("lo").alias("hi"))
        )
        ss_self = gm.select(F.col("mn").alias("lo"), "hi")
        e = ss_nb.union(ss_self).distinct().localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            converged = True
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_two_phase did not converge in {max_iter} rounds"
        )
    comp_map = (
        e.groupBy("hi")
        .agg(F.min("lo").alias("comp"))
        .select(F.col("hi").alias("id"), "comp")
    )
    return verts.join(comp_map, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("comp")
    )


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    algorithm: str = "label_prop",
) -> DataFrame:
    """The end-to-end dedup product: drop every row whose id belongs
    to a near-dup component but is not that component's minimum id.
    Rows not in any pair are untouched. One broadcast-size join when
    the dup set is small relative to the corpus (the usual case).

    ``algorithm`` picks the cluster-formation backend: ``label_prop``
    (default — dense, small-diameter dup families) or ``two_phase``
    (:func:`connected_components_two_phase` — safe for arbitrarily
    long chains). Both produce identical min-id components."""
    cc = {
        "label_prop": connected_components,
        "two_phase": connected_components_two_phase,
    }
    if algorithm not in cc:
        raise ValueError(
            f"algorithm must be one of {sorted(cc)}, got {algorithm!r}"
        )
    comp = cc[algorithm](pairs, src=src, dst=dst)
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _pagerank_kernel(
    e_deg: DataFrame,
    *,
    damping: float,
    n_iter: int,
    undirected: bool,
    seeds: list | None,
) -> DataFrame:
    """Single-task PageRank over a small (a, b, deg) edge frame,
    replaying :func:`pagerank`'s exact arithmetic: per-edge
    contribution ``rank/deg`` cast to DECIMAL(28,18) HALF_UP (via the
    shortest-roundtrip decimal repr, == Spark's double→decimal Cast),
    exact decimal sums per destination, dangling mass in the same
    decimal, then ``round(base + damping·(s + dang), 12)`` HALF_UP per
    vertex — the order-independent trajectory the dataflow loop was
    built around, evaluated without its n_iter scheduled shuffle
    rounds. Guarded by edge count in :func:`pagerank`."""

    def k(batches):
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        import numpy as np
        import pandas as pd

        A, B, D = [], [], []
        for pdf in batches:
            A.append(pdf["a"].to_numpy(dtype="int64"))
            B.append(pdf["b"].to_numpy(dtype="int64"))
            D.append(pdf["deg"].to_numpy(dtype="int64"))
        if not A:
            return
        a = np.concatenate(A)
        b = np.concatenate(B)
        deg = np.concatenate(D)
        if a.size == 0:
            return
        ids = np.unique(np.concatenate([a, b]))
        n = int(ids.size)
        ai = np.searchsorted(ids, a).tolist()
        bi = np.searchsorted(ids, b).tolist()
        degl = [float(x) for x in deg.tolist()]
        Q18 = Decimal("1e-18")
        Q12 = Decimal("1e-12")
        idl = ids.tolist()
        if seeds is None:
            base = [(1.0 - damping) / n] * n
            rank = [1.0 / n] * n
            seed_ix: list[bool] | None = None
        else:
            sset = set(seeds)
            is_seed = [v in sset for v in idl]
            base = [
                (1.0 - damping) / len(seeds) if sd else 0.0
                for sd in is_seed
            ]
            rank = [1.0 / len(seeds) if sd else 0.0 for sd in is_seed]
            seed_ix = is_seed
        has_out = [False] * n
        for j in ai:
            has_out[j] = True
        with localcontext() as ctx:
            ctx.prec = 50
            for _ in range(n_iter):
                s: list[Decimal | None] = [None] * n
                for j in range(len(ai)):
                    c = rank[ai[j]] / degl[j]
                    dc = Decimal(repr(c)).quantize(
                        Q18, rounding=ROUND_HALF_UP
                    )
                    t = s[bi[j]]
                    s[bi[j]] = dc if t is None else t + dc
                if undirected:
                    dang_all = 0.0
                else:
                    dm = Decimal(0)
                    for i in range(n):
                        if not has_out[i]:
                            dm += Decimal(repr(rank[i])).quantize(
                                Q18, rounding=ROUND_HALF_UP
                            )
                    dang_all = float(dm)
                new = []
                for i in range(n):
                    sv = float(s[i]) if s[i] is not None else 0.0
                    if undirected:
                        dterm = 0.0
                    elif seed_ix is None:
                        dterm = dang_all / float(n)
                    else:
                        dterm = (
                            dang_all / float(len(seeds))
                            if seed_ix[i]
                            else 0.0
                        )
                    x = base[i] + damping * (sv + dterm)
                    new.append(
                        float(
                            Decimal(repr(x)).quantize(
                                Q12, rounding=ROUND_HALF_UP
                            )
                        )
                    )
                rank = new
        yield pd.DataFrame(
            {"id": ids, "rank": np.asarray(rank, dtype="float64")}
        )

    return e_deg.select("a", "b", "deg").coalesce(1).mapInPandas(
        k, schema="id long, rank double"
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 10,
    undirected: bool = True,
    seeds: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the edge list — vertex centrality
    for picking the *canonical* member of a dup family (the hub every
    near-duplicate points at), or weighting docs by graph importance.

    ``n_iter`` is FIXED (no convergence probe): the output is a pure
    function of the input, reproducible across engines and retries.
    Every iteration is one (rank/deg) contribution shuffle keyed by
    dst plus a vertex-set left join — (long, double) rows only,
    payloads never enter the loop; ``localCheckpoint`` truncates the
    growing lineage exactly as :func:`connected_components` does.
    Contributions sum as DECIMAL(28,18) and each iteration's ranks
    round to 12 decimals, so the per-vertex trajectory is
    order-independent and bit-identical cross-engine — the property
    that lets an iterative algorithm carry an exact SQL oracle.

    With ``undirected`` the edges symmetrize first (the near-dup pair
    case); every vertex then has out-degree ≥ 1, so there is no
    dangling-mass term. In directed mode the vertex set is the union
    of sources AND destinations (a pure sink is still a vertex), and
    the rank mass of dangling vertices (out-degree 0) redistributes
    uniformly each iteration — the standard treatment, so ranks still
    sum to ~1. The dangling sum is a 1-row broadcast per iteration,
    accumulated in the same DECIMAL(28,18) so the exactness contract
    holds. Returns (id, rank) with ranks summing to ~1.

    ``seeds`` switches to PERSONALIZED PageRank (random walk with
    restart): the teleport term concentrates on the seed set instead
    of spreading uniformly — init mass 1/|S| on seeds, base term
    (1-d)/|S| on seeds and 0 elsewhere, directed dangling mass
    redistributed over the seeds. Ranks then measure proximity to the
    seeds: the expansion queue around a known-bad (contaminated,
    spam, leaked) document set. Seeds are a model-sized Python list
    (an ``isin`` literal — never a join); the exactness contract is
    unchanged, so the unrolled SQL oracle still replays it."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if undirected:
        e = e.union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    e = e.distinct()

    # degree attaches via a window over the SAME key the loop joins on
    # (r12 opt: one shuffle builds the loop-invariant (a, b, deg)
    # frame already hash-partitioned by ``a`` — the former standalone
    # degree aggregate + per-edge join paid an extra exchange and an
    # extra eager checkpoint; counts are identical)
    from pyspark.sql import Window as _W

    e_deg = e.withColumn(
        "deg", F.count(F.lit(1)).over(_W.partitionBy("a")).cast("long")
    ).localCheckpoint(eager=True)
    if seeds is not None and len(seeds) == 0:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    if {
        f.dataType.simpleString()
        for f in e_deg.select("a", "b").schema.fields
    } <= {"bigint"} and util.kernel_ok(
        e_deg.count(), _PAGERANK_KERNEL_MAX_EDGES
    ):
        # r13 opt (guide §2.4/§5): same small-graph escape as
        # connected_components — n_iter dataflow rounds over a few
        # thousand edges are pure job-scheduling cost. The kernel
        # replays the EXACT trajectory: the DECIMAL(28,18)
        # contribution sums and per-iteration round-12 that make the
        # dataflow order-independent also make it engine-independent,
        # and decimal.Decimal(repr(x)) is the same shortest-roundtrip
        # double→decimal conversion Spark's Cast performs
        # (BigDecimal.valueOf ⇒ Double.toString). Bit-equality vs the
        # dataflow path is asserted per-SF in tests.
        return _pagerank_kernel(
            e_deg,
            damping=damping,
            n_iter=n_iter,
            undirected=undirected,
            seeds=list(seeds) if seeds is not None else None,
        ).localCheckpoint(eager=False)
    verts = (
        e_deg.select(F.col("a").alias("id"))
        .union(e_deg.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    if seeds is not None and len(seeds) == 0:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    if seeds is None:
        base_col = F.lit((1.0 - damping) / n)
        init_col = F.lit(1.0 / n).cast("double")
    else:
        is_seed = F.col("id").isin(list(seeds))
        base_col = F.when(
            is_seed, F.lit((1.0 - damping) / len(seeds))
        ).otherwise(F.lit(0.0))
        init_col = (
            F.when(is_seed, F.lit(1.0 / len(seeds)))
            .otherwise(F.lit(0.0))
            .cast("double")
        )

    # Per-iteration checkpoints stay LAZY (they still truncate
    # lineage, but materialize inside the consumer's job instead of
    # costing one scheduling round trip each; the
    # DECIMAL(28,18)+round(12) trajectory is checkpoint-frequency-
    # independent, so values are unchanged). The initial ranks frame
    # is likewise lazy — the first loop round materializes it.
    ranks = verts.withColumn("rank", init_col)
    for _ in range(n_iter):
        contrib = (
            e_deg.join(ranks.withColumnRenamed("id", "a"), "a")
            .select(
                F.col("b").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(
                F.sum(F.col("c").cast("decimal(28,18)"))
                .cast("double")
                .alias("s")
            )
        )
        new = verts.join(contrib, "id", "left")
        if undirected:
            dang_term = F.lit(0.0)
        else:
            dm = ranks.join(
                e_deg.select(F.col("a").alias("id")), "id", "left_anti"
            ).agg(
                F.coalesce(
                    F.sum(F.col("rank").cast("decimal(28,18)")),
                    F.lit(0).cast("decimal(28,18)"),
                ).alias("__dm")
            )
            new = new.crossJoin(F.broadcast(dm))
            if seeds is None:
                dang_term = F.col("__dm").cast("double") / F.lit(float(n))
            else:
                # restart semantics: dangling mass teleports to seeds
                dang_term = F.when(
                    F.col("id").isin(list(seeds)),
                    F.col("__dm").cast("double") / F.lit(float(len(seeds))),
                ).otherwise(F.lit(0.0))
        ranks = new.select(
            "id",
            F.round(
                base_col
                + F.lit(damping)
                * (F.coalesce(F.col("s"), F.lit(0.0)) + dang_term),
                12,
            ).alias("rank"),
        ).localCheckpoint(eager=False)
    return ranks


def triangle_counts(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list — the
    clustering signal for dup-family shape (a clique'd family is safe
    keep-one; triangle-free chains mean threshold drift).

    The scale shape is degree orientation (Suri & Vassilvitskii,
    WWW'11): orient each edge from its (degree, id)-smaller endpoint
    to the larger one — a PER-EDGE comparison against a broadcastable
    degree table, no global rank (a row_number over all vertices
    would funnel the vertex set through one window task). Wedges
    (a→b, a→c with (deg,id) of b < c) join against the oriented
    closing edge (b→c), so wedge volume is bounded by Σ min-degree —
    the hub that would generate deg² wedges under a naive join only
    ever generates them from its LOW-degree neighbors, which is what
    kills the last-reducer skew on power-law graphs. Every shuffle
    carries id/degree longs only.

    Returns (id, triangles) for every vertex of the graph (0 where
    none), ordered by id."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = e.select(F.col("u").alias("id")).union(
        e.select(F.col("v").alias("id"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("deg"))

    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented edge (lo → hi) with (deg, id) of lo < hi; carry hi's
    # degree for the wedge-side ordering comparison
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dhi"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = o.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("dhi").alias("db")
    )
    w2 = o.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"), F.col("dhi").alias("dc")
    )
    b_first = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c"))
    )
    tri = (
        w1.join(w2, "a")
        .filter(b_first)
        .join(
            o.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
            ["b", "c"],
        )
    )
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.select("id")
        .join(per_vertex, "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
        .orderBy("id")
    )


def kcore(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 2,
    n_iter: int = 10,
) -> DataFrame:
    """k-core of an undirected edge list by iterative peeling — the
    density filter for dup-family graphs: the 2-core keeps exactly the
    vertices that sit on a cycle (genuinely mutually-duplicated
    groups) and peels away chains and isolated pairs that only link
    marginal near-dup pairs transitively (the threshold-drift
    artifact ``triangle_counts`` diagnoses — the k-core is the
    operator that *acts* on it).

    Peeling contract: up to ``n_iter`` rounds of "drop every vertex
    with degree < k, then re-derive degrees on the induced subgraph".
    The result after convergence is the unique maximal subgraph with
    all degrees ≥ k; peeling is monotone, so once a round removes no
    edge the loop stops early — the result equals the fixed-``n_iter``
    unroll (extra peels are no-ops on a stable graph), which is what
    lets an iterative algorithm carry an exact unrolled-SQL oracle.

    Scale shape, per round: one degree aggregate (id-only, map-side
    combined) + two semi-joins of the edge list against the surviving
    vertex set — every shuffle carries (long, long) edge rows or
    (long,) ids, payloads never enter the loop; ``localCheckpoint``
    truncates lineage each round exactly as :func:`connected_components`
    does, and the convergence probe is an O(1) count on the
    checkpointed frame. Rounds needed = peel depth (max ``n_iter``),
    independent of graph size — near-dup graphs converge in 2-3.

    Returns (id, deg) for every vertex of the k-core (``deg`` is the
    degree WITHIN the core), ordered by id."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    for _ in range(n_iter):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("u").alias("id"))
            .union(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("id")
        ne = (
            e.join(keep.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("id", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_new = ne.count()
        e = ne
        if n_new == n_edges:
            break
        n_edges = n_new
    deg = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return deg.filter(F.col("deg") >= k).orderBy("id")


def clustering_coefficient(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Graph clustering-coefficient summary: average LOCAL coefficient
    (2T_v/(d_v(d_v−1)) over vertices with degree ≥ 2) and the GLOBAL
    transitivity (closed wedges / all wedges) — the small-world
    readouts that, on a near-dup graph, say whether dup families are
    tight cliques (high cc → keep-one dedup is safe) or straggly
    transitive chains (low cc → the threshold links marginal pairs).

    One row out: n_vertices, n_eligible, avg_local_cc, global_cc.
    Reuses :func:`triangle_counts`' degree-oriented wedge join (the
    skew-safe shape) plus one degree aggregate — id/degree longs are
    the only shuffle payloads, and the coefficient math folds on the
    per-vertex frame. Note Σ_v T_v counts each triangle three times,
    so transitivity = Σ T_v / Σ wedges_v exactly."""
    tri = triangle_counts(edges, src=src, dst=dst)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    per = tri.join(deg, "id")
    wedges = (F.col("deg") * (F.col("deg") - 1) / 2).cast("double")
    local = F.when(
        F.col("deg") >= 2, F.col("triangles") / wedges
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum((F.col("deg") >= 2).cast("long"))
        .cast("long")
        .alias("n_eligible"),
        F.round(F.avg(local), 6).alias("avg_local_cc"),
        F.round(
            F.try_divide(
                F.sum("triangles").cast("double"),
                F.sum(F.when(F.col("deg") >= 2, wedges).otherwise(0.0)),
            ),
            6,
        ).alias("global_cc"),
    )


def _lpa_kernel(und: DataFrame, *, n_iter: int) -> DataFrame:
    """Single-task synchronous label propagation over a small
    symmetrized (u, v) edge frame — the LPA twin of :func:`_cc_kernel`.
    Value-identical to the dataflow rounds by determinism: labels are
    always vertex ids (integers), each round every vertex takes the
    (count DESC, label ASC) top-1 over its neighbors' PREVIOUS-round
    labels, and the numpy lexsort reproduces exactly that tie rule.
    Guarded by edge count in :func:`label_propagation`."""

    def k(batches):
        import numpy as np
        import pandas as pd

        u_parts, v_parts = [], []
        for pdf in batches:
            u_parts.append(pdf["u"].to_numpy(dtype="int64"))
            v_parts.append(pdf["v"].to_numpy(dtype="int64"))
        if not u_parts:
            return
        u = np.concatenate(u_parts)
        v = np.concatenate(v_parts)
        if u.size == 0:
            return
        ids = np.unique(u)  # und is symmetric: ids(u) == ids(v)
        ui = np.searchsorted(ids, u)
        vi = np.searchsorted(ids, v)
        lab = np.arange(ids.size, dtype=np.int64)  # label index == id index
        n = ids.size
        for _ in range(n_iter):
            nl = lab[vi]  # neighbor's previous-round label index per edge
            key = ui * n + nl
            uniq, cnt = np.unique(key, return_counts=True)
            ku = uniq // n
            kl = uniq % n
            # top-1 per vertex by (count DESC, label ASC): labels are
            # ids[kl], and kl orders identically to ids[kl] (ids sorted)
            order = np.lexsort((kl, -cnt, ku))
            ku_s = ku[order]
            first = np.ones(ku_s.size, dtype=bool)
            first[1:] = ku_s[1:] != ku_s[:-1]
            new = lab.copy()
            new[ku_s[first]] = kl[order][first]
            lab = new
        yield pd.DataFrame({"id": ids, "label": ids[lab]})

    return und.coalesce(1).mapInPandas(k, schema="id long, label long")


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected graph — community detection by iterated neighbor-label
    majority, the cheap mesoscale complement of
    :func:`connected_components` (which only answers reachability):
    LPA splits a weakly-bridged component into its dense cores, the
    granularity a dedup triage actually wants. Deterministic variant:
    SYNCHRONOUS updates (all vertices step on the previous round's
    labels) with ties broken toward the SMALLEST label, so the result
    is a pure function of the graph — no runtime randomness, exact
    oracle replay per iteration.

    Scale shape, per round: one (vertex, neighbor-label) shuffle off
    the edge list (long, long rows), one map-side-combinable count,
    one per-vertex window keeping the (count DESC, label ASC) top-1 —
    bounded state throughout; ``localCheckpoint`` truncates lineage
    per round like the CC loop. Fixed ``n_iter`` keeps the unrolled
    SQL oracle exact (the PageRank-oracle pattern); LPA oscillates on
    bipartite-ish graphs under synchronous update, so callers treat
    the result at round k as the answer, not a fixpoint claim.

    Returns (id, label) for every vertex that appears in an edge."""
    from pyspark.sql import Window as W

    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Size-guarded single-task backend (r13, the CC-kernel pattern):
    # every quantity in a synchronous LPA round is an integer with a
    # deterministic tie rule, so the numpy replay is value-identical;
    # one cheap count on the already-materialized frame picks it.
    if {f.dataType.simpleString() for f in und.schema.fields} <= {
        "bigint"
    } and util.kernel_ok(und.count(), _KERNEL_MAX_EDGES):
        return _lpa_kernel(und, n_iter=n_iter).localCheckpoint(
            eager=True
        )
    labels = (
        und.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    top = W.partitionBy("id").orderBy(F.desc("__n"), F.asc("label"))
    for _ in range(n_iter):
        msgs = und.join(
            labels.withColumnRenamed("id", "v"), "v"
        ).select(F.col("u").alias("id"), "label")
        counts = msgs.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("__n")
        )
        labels = (
            counts.withColumn("__rk", F.row_number().over(top))
            .filter(F.col("__rk") == 1)
            .select("id", "label")
            .localCheckpoint(eager=True)
        )
    return labels


def adamic_adar(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 50,
) -> DataFrame:
    """Adamic–Adar link prediction over the undirected graph: for
    vertex pairs NOT already linked, score = Σ_z 1/ln(deg z) over
    common neighbors z (Adamic & Adar 2003) — rare shared neighbors
    count more than hub co-membership. On the near-dup graph this
    ranks the pairs a thresholded similarity join MISSED but the
    neighborhood structure vouches for: the review queue for lowering
    the dedup threshold.

    Scale shape: degree table (one count), wedge join e(u,z)⋈e(z,w)
    with u<w — the same wedge the triangle counter walks, so the same
    skew caveat: wedge volume is Σ deg(z)², and a hub z fans out
    quadratically (cap degrees upstream for adversarial graphs; dup
    graphs post-threshold are star-capped already). Existing edges
    drop via one anti-join; TakeOrdered(k) with the (score DESC,
    u, v) deterministic tie-break returns the model-sized queue."""
    und = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("double").alias("__d")
    )
    e1 = und.select(F.col("v").alias("z"), F.col("u").alias("a"))
    e2 = und.select(F.col("v").alias("z"), F.col("u").alias("b"))
    wedges = (
        e1.join(e2, "z")
        .filter(F.col("a") < F.col("b"))
        .join(deg, "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            # per-term round(9) + DECIMAL sum: the score is exact and
            # associativity-independent, so the oracle hash matches.
            # try_divide: a wedge center normally has deg >= 2, but a
            # self-loop-only vertex (deg 1, ln = 0) must yield a NULL
            # term, not an ANSI divide-by-zero job abort
            F.round(
                F.sum(
                    F.round(
                        F.try_divide(F.lit(1.0), F.log("__d")), 9
                    ).cast("decimal(28,9)")
                ).cast("double"),
                6,
            ).alias("score"),
        )
    )
    existing = pairs.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).distinct()
    return (
        wedges.join(existing, ["a", "b"], "left_anti")
        .orderBy(F.desc("score"), "a", "b")
        .limit(k)
    )


def co_occurrence_edges(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Co-occurrence graph off (basket, item) rows: an undirected
    edge (id_a < id_b) for every item pair sharing >= ``min_support``
    baskets — the co-purchase / co-view / co-citation graph that
    link-prediction (:func:`adamic_adar`) and community detection
    (:func:`label_propagation`) consume. The support floor is the
    noise gate: singleton co-occurrences in a busy corpus are chance,
    and dropping them is what keeps the graph sparse enough that
    wedge-walking stays linear.

    Scale shape (the :func:`~..relational.association_rules` kernel):
    dedup to (basket, item), ONE groupBy-basket shuffle collecting the
    sorted item list, pair fan-out INSIDE the list (bounded by basket
    size squared — no self-join of the raw fact table), then one
    map-side-combinable pair count. A pathological mega-basket should
    be size-capped upstream.

    Returns (id_a, id_b, support), id_a < id_b."""
    base = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    )
    # collect_set dedups (basket, item) inside the SAME aggregation —
    # one shuffle where distinct-then-collect_list would pay two
    buckets = base.groupBy("__b").agg(
        F.array_sort(F.collect_set("__i")).alias("items")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("items"),
            lambda a: F.filter(
                F.transform(
                    F.col("items"),
                    lambda b: F.when(
                        a < b,
                        F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
