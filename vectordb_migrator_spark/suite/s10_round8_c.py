"""Round-8 (late) registry module C — inference and audit extensions:
one-way ANOVA, Spearman rank correlation, a deterministic (md5-seeded)
permutation test, a DFT periodogram with an injected trig table, and
the id-sequence gap audit. Registered via the shared ``query``
decorator; every entry carries a full DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_migrator_spark.suite._shared import _t, query


# ---------------------------------------------------------------------
# x7_anova — one-way ANOVA across event types
# ---------------------------------------------------------------------

@query(
    "x7_anova",
    """
    WITH g AS (
      SELECT event_type,
             count(*)::BIGINT AS n,
             sum(round(value, 6)::DECIMAL(18,6)) AS sx,
             sum(round(value, 6)::DECIMAL(19,6)
                 * round(value, 6)::DECIMAL(19,6)) AS sxx
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ), t AS (
      SELECT n, sx,
             round(sxx::DOUBLE
                   - n * (sx::DOUBLE / n) * (sx::DOUBLE / n), 6)
               ::DECIMAL(28,6) AS ssw,
             round(sx::DOUBLE * sx::DOUBLE / n, 6)::DECIMAL(28,6) AS bsq
      FROM g
    ), a AS (
      SELECT sum(n)::BIGINT AS n_total, count(*)::BIGINT AS k_groups,
             sum(sx) AS gsum,
             sum(ssw)::DOUBLE AS ssw, sum(bsq)::DOUBLE AS bsq
      FROM t
    ), s AS (
      SELECT n_total, k_groups, ssw,
             bsq - gsum::DOUBLE * gsum::DOUBLE / n_total AS ssb
      FROM a
    )
    SELECT n_total, k_groups,
           (k_groups - 1)::BIGINT AS dof_between,
           (n_total - k_groups)::BIGINT AS dof_within,
           round(ssb, 4) AS ss_between,
           round(ssw, 4) AS ss_within,
           round((ssb / (k_groups - 1)::DOUBLE)
                 / nullif(ssw / (n_total - k_groups)::DOUBLE, 0), 6)
             AS f_stat,
           round(ssb / nullif(ssb + ssw, 0), 6) AS eta_sq,
           round((ssb / (k_groups - 1)::DOUBLE)
                 / nullif(ssw / (n_total - k_groups)::DOUBLE, 0), 6)
             > 2.372 AS significant
    FROM s
    """,
)
def x7_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — one-way ANOVA across event types (round 8): do the five
    event types differ in mean value ANYWHERE, in one F statistic
    (the k-sample gate that replaces C(5,2) pairwise tests and their
    multiplicity problem), plus eta² so a significant-but-immaterial
    grouping is visible as such. One map-side-combined moment
    aggregate folds the corpus to 5 rows; 6dp-rounded decimal moments
    make the statistic engine-exact
    (operators/scale.py:anova_oneway). Full oracle."""
    from vectordb_migrator_spark.operators.scale import anova_oneway

    return anova_oneway(
        _t(spark, sf_dir, "events"), "value", group_col="event_type"
    )


# ---------------------------------------------------------------------
# x7_spearman — rank correlation: user activity vs mean event value
# ---------------------------------------------------------------------

@query(
    "x7_spearman",
    """
    WITH u AS (
      SELECT user_id,
             count(*)::DOUBLE AS x,
             round(sum(round(value, 6)::DECIMAL(18,6))::DOUBLE
                   / count(*), 6) AS y
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id
    ), r AS (
      SELECT ((rank() OVER (ORDER BY x))::DOUBLE
              + ((count(*) OVER (PARTITION BY x))::DOUBLE - 1) / 2)
               ::DECIMAL(19,1) AS rx,
             ((rank() OVER (ORDER BY y))::DOUBLE
              + ((count(*) OVER (PARTITION BY y))::DOUBLE - 1) / 2)
               ::DECIMAL(19,1) AS ry
      FROM u
    ), a AS (
      SELECT count(*)::BIGINT AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM r
    ), s AS (
      SELECT n,
             round((sxy::DOUBLE / n
                    - (sx::DOUBLE / n) * (sy::DOUBLE / n))
                   / nullif(sqrt((sxx::DOUBLE / n
                                  - (sx::DOUBLE / n) * (sx::DOUBLE / n))
                                 * (syy::DOUBLE / n
                                    - (sy::DOUBLE / n)
                                      * (sy::DOUBLE / n))), 0), 6)
               AS rho
      FROM a
    )
    SELECT n, rho,
           round(rho * sqrt((n - 2)
                            / nullif(1.0 - rho * rho, 0)), 6) AS t_stat,
           abs(round(rho * sqrt((n - 2)
                                / nullif(1.0 - rho * rho, 0)), 6))
             > 1.959964 AS significant
    FROM s
    """,
)
def x7_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — Spearman rank correlation (round 8) between per-user
    activity (event count) and per-user mean event value — "do heavy
    users behave differently", measured monotonically so whales and
    heavy tails can't fabricate (or hide) the association the way
    they do under Pearson (``x12_corr_matrix``). Average ranks for
    ties; the corpus folds to the user frame first, ranks are windows
    over that pre-aggregate, and the rank moments are exact
    DECIMAL(19,1) sums — engine-exact end to end
    (operators/scale.py:spearman_rho). Full oracle."""
    from vectordb_migrator_spark.operators.scale import spearman_rho

    ev = _t(spark, sf_dir, "events")
    unit = (
        ev.filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("x"),
            F.round(
                F.sum(
                    F.round(F.col("value").cast("double"), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("y"),
        )
    )
    return spearman_rho(unit, "x", "y")


# ---------------------------------------------------------------------
# x7_permutation_test — md5-seeded exact permutation inference
# ---------------------------------------------------------------------

@query(
    "x7_permutation_test",
    """
    WITH unit AS (
      SELECT user_id AS u,
             round(sum(round(value, 6)::DECIMAL(18,6))::DOUBLE, 6) AS v,
             max(user_id % 2 = 0) AS obs_a
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id
    ), obs AS (
      SELECT round(
               sum(CASE WHEN obs_a THEN round(v, 6)::DECIMAL(28,6)
                   END)::DOUBLE
                 / sum(CASE WHEN obs_a THEN 1 ELSE 0 END)::DOUBLE
               - sum(CASE WHEN NOT obs_a THEN round(v, 6)::DECIMAL(28,6)
                     END)::DOUBLE
                 / sum(CASE WHEN NOT obs_a THEN 1 ELSE 0 END)::DOUBLE,
               6) AS obs_diff
      FROM unit
    ), per_b AS (
      SELECT b,
             round(
               sum(CASE WHEN substr(md5(u::VARCHAR || ':' || b::VARCHAR),
                               1, 1) < '8'
                        THEN round(v, 6)::DECIMAL(28,6) END)::DOUBLE
                 / sum(CASE WHEN substr(md5(u::VARCHAR || ':'
                                            || b::VARCHAR), 1, 1) < '8'
                            THEN 1 ELSE 0 END)::DOUBLE
               - sum(CASE WHEN NOT (substr(md5(u::VARCHAR || ':'
                                                || b::VARCHAR), 1, 1)
                                    < '8')
                          THEN round(v, 6)::DECIMAL(28,6) END)::DOUBLE
                 / sum(CASE WHEN NOT (substr(md5(u::VARCHAR || ':'
                                                  || b::VARCHAR), 1, 1)
                                      < '8')
                            THEN 1 ELSE 0 END)::DOUBLE,
               6) AS d
      FROM unit, range(200) t(b) GROUP BY b
    )
    SELECT 200::BIGINT AS n_perms,
           (SELECT obs_diff FROM obs) AS observed_diff,
           sum(CASE WHEN d IS NULL
                      OR abs(d) >= abs((SELECT obs_diff FROM obs))
                    THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
           round((sum(CASE WHEN d IS NULL
                             OR abs(d)
                                >= abs((SELECT obs_diff FROM obs))
                           THEN 1 ELSE 0 END) + 1) / 201.0, 6)
             AS p_value,
           round((sum(CASE WHEN d IS NULL
                             OR abs(d)
                                >= abs((SELECT obs_diff FROM obs))
                           THEN 1 ELSE 0 END) + 1) / 201.0, 6) < 0.05
             AS significant
    FROM per_b
    """,
)
def x7_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — deterministic permutation test (round 8) of the user-level
    mean-total difference between the even/odd user-id variants: the
    assumption-free significance gate — no normality, no variance
    model, exact exchangeability logic — with the null distribution
    built from 200 md5-SEEDED label reshuffles (permutation b assigns
    user u to side A iff md5(u:b)'s first hex digit < '8'), so the
    p-value is engine-exact, not Monte-Carlo-flaky. The event log
    folds ONCE to the per-user frame; only that pre-aggregate is
    replicated 200× (operators/scale.py:permutation_test_md5). Full
    oracle."""
    from vectordb_migrator_spark.operators.scale import (
        permutation_test_md5,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return permutation_test_md5(
        ev,
        unit_col="user_id",
        value_col="value",
        variant_expr=(F.col("user_id") % 2 == 0),
        n_perms=200,
    )


# ---------------------------------------------------------------------
# x13_periodogram — dominant-period detection on the daily series
# ---------------------------------------------------------------------


def _periodogram_sql() -> str:
    from vectordb_migrator_spark.operators.timeseries import (
        periodogram_trig_table,
    )

    rows = periodogram_trig_table((2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14))
    values = ", ".join(
        f"({p}, {r}, CAST({c!r} AS DOUBLE), CAST({s!r} AS DOUBLE))"
        for p, r, c, s in rows
    )
    return f"""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, count(*)::DOUBLE AS y
      FROM events GROUP BY 1
    ), b AS (
      SELECT date_diff('day', (SELECT min(day) FROM d), day)::BIGINT
               AS dd,
             round(y, 6) AS y
      FROM d
    ), m AS (
      SELECT round(sum(y::DECIMAL(28,6))::DOUBLE / count(*), 6) AS mu,
             count(*)::DOUBLE AS n
      FROM b
    ), trig(period, r, c, s) AS (VALUES {values}),
    x AS (
      SELECT trig.period,
             sum(round((b.y - m.mu) * trig.c, 6)::DECIMAL(28,6))::DOUBLE
               AS cc,
             sum(round((b.y - m.mu) * trig.s, 6)::DECIMAL(28,6))::DOUBLE
               AS ss,
             max(m.n) AS n
      FROM b, m, trig
      WHERE trig.r = b.dd % trig.period
      GROUP BY trig.period
    ), sc AS (
      SELECT period::BIGINT AS period,
             round((cc * cc + ss * ss) / n, 6) AS power
      FROM x
    )
    SELECT period, power,
           round(power / nullif(
             (sum(power::DECIMAL(28,6)) OVER ())::DOUBLE, 0), 6)
             AS power_share,
           row_number() OVER (ORDER BY power DESC, period) = 1
             AS dominant
    FROM sc ORDER BY period
    """


@query("x13_periodogram", _periodogram_sql())
def x13_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 — Schuster periodogram of the daily event count (round 8):
    spectral power at candidate periods 2..14 days, normalized to
    share-of-grid, with the dominant period flagged — the detector
    that FINDS the cycle (``x13_seasonal_strength`` assumes period 7
    and scores it; this one asks which period the data actually
    follows, catching 3-day batch cadences or biweekly pulls a
    weekly model would alias). Day-sized input; cos/sin come from a
    broadcast residue lookup shared verbatim with the oracle, so not
    one transcendental is evaluated at query time and the spectrum is
    bit-identical across engines
    (operators/timeseries.py:periodogram_daily). Full oracle."""
    from vectordb_migrator_spark.operators.timeseries import (
        periodogram_daily,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return periodogram_daily(daily, day_col="day", value_col="y")


# ---------------------------------------------------------------------
# x12_id_gaps — surrogate-key sequence-gap audit
# ---------------------------------------------------------------------

@query(
    "x12_id_gaps",
    """
    WITH k AS (
      SELECT DISTINCT l_orderkey::BIGINT AS k FROM lineitem
      WHERE l_orderkey IS NOT NULL
    ), b AS (
      SELECT k, k // 1024 AS b FROM k
    ), w AS (
      SELECT k - lag(k) OVER (PARTITION BY b ORDER BY k) AS gap,
             lag(k) OVER (PARTITION BY b ORDER BY k) AS after
      FROM b
    ), s AS (
      SELECT b, min(k) AS mn, max(k) AS mx FROM b GROUP BY b
    ), bd AS (
      SELECT mn - lag(mx) OVER (ORDER BY b) AS gap,
             lag(mx) OVER (ORDER BY b) AS after
      FROM s
    ), g AS (
      SELECT gap, after FROM w WHERE gap IS NOT NULL AND gap > 1
      UNION ALL
      SELECT gap, after FROM bd WHERE gap IS NOT NULL AND gap > 1
    ), t AS (
      SELECT count(*)::BIGINT AS n_keys, min(k) AS lo, max(k) AS hi
      FROM k
    ), top AS (
      SELECT gap, after FROM g ORDER BY gap DESC, after LIMIT 5
    )
    SELECT row_number() OVER (ORDER BY gap DESC, after)::BIGINT
             AS gap_rank,
           (gap - 1)::BIGINT AS missing_ids,
           (after + 1)::BIGINT AS hole_start,
           (after + gap - 1)::BIGINT AS hole_end,
           n_keys,
           (hi - lo + 1 - n_keys)::BIGINT AS total_missing,
           round(n_keys::DOUBLE / (hi - lo + 1), 6) AS fill_ratio
    FROM top, t ORDER BY gap_rank
    """,
)
def x12_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 — id-sequence gap audit on lineitem's order key (round 8):
    the five largest holes in the referenced-key sequence with their
    bounds, total missing mass, and fill ratio (~1.7% of orderkeys
    never appear in lineitem in this corpus — orders with no lines).
    A dropped load partition is ONE contiguous hole; organic sparsity
    is uniform small gaps, so the top-gap profile separates the two
    at a glance. No global key sort: gaps are within-bucket lag
    windows (partition-local) plus boundary lags over the
    bucket-summary frame; the top-5 is a TakeOrdered
    (operators/validation.py:id_gap_audit). Full oracle."""
    from vectordb_migrator_spark.operators.validation import id_gap_audit

    return id_gap_audit(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", bucket=1024, top_gaps=5
    )


# ---------------------------------------------------------------------
# x9_anisotropic_loss — ScaNN score-aware quantization decomposition
# ---------------------------------------------------------------------

@query(
    "x9_anisotropic_loss",
    """
    WITH cb AS (
      SELECT vec_id AS j, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 16
    ), d AS (
      SELECT e.vec_id, (t.i - 1) // 16 AS s, c.j,
             sum((e.embedding[t.i]::DOUBLE - c.cv[t.i])
                 * (e.embedding[t.i]::DOUBLE - c.cv[t.i])) AS dist,
             sum((c.cv[t.i] - e.embedding[t.i]::DOUBLE)
                 * e.embedding[t.i]::DOUBLE) AS dotp
      FROM embeddings e, unnest(range(1, 65)) t(i), cb c
      GROUP BY e.vec_id, (t.i - 1) // 16, c.j
    ), md AS (
      SELECT vec_id, s, dist, dotp FROM (
        SELECT vec_id, s, dist, dotp,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, j) AS rn
        FROM d
      ) WHERE rn = 1
    ), xq AS (
      SELECT e.vec_id,
             sum(e.embedding[t.i]::DOUBLE * e.embedding[t.i]::DOUBLE)
               AS xsq
      FROM embeddings e, unnest(range(1, 65)) t(i)
      GROUP BY e.vec_id
    ), pv AS (
      SELECT round(sum(md.dist), 6)::DECIMAL(28,6) AS rsq,
             round(CASE WHEN max(xq.xsq) > 0
                        THEN sum(md.dotp) * sum(md.dotp) / max(xq.xsq)
                        ELSE 0 END, 6)::DECIMAL(28,6) AS par
      FROM md JOIN xq USING (vec_id) GROUP BY md.vec_id
    ), a AS (
      SELECT count(*)::BIGINT AS n,
             sum(rsq)::DOUBLE / count(*) AS mt,
             sum(par)::DOUBLE / count(*) AS mp
      FROM pv
    )
    SELECT n,
           round(mt, 6) AS mse_total,
           round(mp, 6) AS mse_parallel,
           round(mt - mp, 6) AS mse_orthogonal,
           round(mp / nullif(mt, 0), 6) AS parallel_share,
           round(1.0 / 64, 6) AS isotropic_share,
           round(mp / nullif(mt, 0) * 64.0, 6) AS anisotropy_factor,
           round(2.625 * mp + (mt - mp), 6) AS loss_at_t
    FROM a
    """,
)
def x9_anisotropic_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 — anisotropic (score-aware) quantization-loss decomposition
    (round 8): split the PQ reconstruction error into the component
    PARALLEL to each vector and the orthogonal remainder — ScaNN's
    insight (Guo et al. 2020) that inner-product retrieval only pays
    for the parallel part on high-scoring pairs. ``parallel_share``
    vs the isotropic 1/d baseline (``anisotropy_factor`` ≈ 1 means
    the codebook wastes nothing; ≫ 1 means anisotropic training or
    OPQ would buy recall at equal bytes) and the ScaNN surrogate
    ``loss_at_t`` (w·η∥ + η⊥ at t=0.2) make the retrain decision a
    report, not a hunch. Argmin + residual partials all in codegen
    against broadcast codebooks; ONE corpus fold to the report row
    (operators/similarity.py:pq_anisotropic_report). Full oracle."""
    from vectordb_migrator_spark.operators.similarity import (
        pq_anisotropic_report,
        pq_sampled_codebooks,
    )

    from vectordb_migrator_spark.operators.util import fan_out

    emb = _t(spark, sf_dir, "embeddings")
    cbs = pq_sampled_codebooks(emb, m=4, k=16)
    return pq_anisotropic_report(fan_out(emb), cbs, t=0.2)


# ---------------------------------------------------------------------
# x13_granger — lag-1 Granger-causality screen (click vs purchase)
# ---------------------------------------------------------------------


def _granger_direction_sql(tag: str, y: str, y1: str, x1: str) -> str:
    """One direction's closed-form nested-model F, mirroring
    operators/timeseries.py:granger_lag1 operation-for-operation
    (exact BIGINT moment sums -> deterministic double algebra)."""
    return f"""
      SELECT '{tag}' AS direction, n,
             round(b2, 6) AS cross_coef,
             round(rss_r, 4) AS rss_restricted,
             round(rss_u, 4) AS rss_unrestricted,
             round((rss_r - rss_u)
                   / nullif(rss_u / (n - 3), 0), 6) AS f_stat,
             round((rss_r - rss_u)
                   / nullif(rss_u / (n - 3), 0), 6) > 3.841459
               AS significant
      FROM (
        SELECT n, rss_r,
               cyy - b1 * c1y - b2 * c2y AS rss_u, b2
        FROM (
          SELECT n, cyy, c1y, c2y,
                 cyy - c1y * c1y / nullif(c11, 0) AS rss_r,
                 (c1y * c22 - c2y * c12)
                   / nullif(c11 * c22 - c12 * c12, 0) AS b1,
                 (c2y * c11 - c1y * c12)
                   / nullif(c11 * c22 - c12 * c12, 0) AS b2
          FROM (
            SELECT count(*)::BIGINT AS n,
                   sum({y}*{y}) - sum({y}) * sum({y})
                     / count(*)::DOUBLE AS cyy,
                   sum({y1}*{y1}) - sum({y1}) * sum({y1})
                     / count(*)::DOUBLE AS c11,
                   sum({x1}*{x1}) - sum({x1}) * sum({x1})
                     / count(*)::DOUBLE AS c22,
                   sum({y}*{y1}) - sum({y1}) * sum({y})
                     / count(*)::DOUBLE AS c1y,
                   sum({y}*{x1}) - sum({x1}) * sum({y})
                     / count(*)::DOUBLE AS c2y,
                   sum({y1}*{x1}) - sum({y1}) * sum({x1})
                     / count(*)::DOUBLE AS c12
            FROM f
          )
        )
      )"""


def _granger_sql() -> str:
    fwd = _granger_direction_sql("x->y", "y", "yl", "xl")
    rev = _granger_direction_sql("y->x", "x", "xl", "yl")
    return f"""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               ::BIGINT AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS y
      FROM events GROUP BY 1
    ), l AS (
      SELECT y, lag(y) OVER (ORDER BY day) AS yl,
             x, lag(x) OVER (ORDER BY day) AS xl
      FROM d
    ), f AS (
      SELECT * FROM l WHERE yl IS NOT NULL
    )
    SELECT * FROM ({fwd} UNION ALL {rev}) ORDER BY direction
    """


@query("x13_granger", _granger_sql())
def x13_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 — lag-1 Granger-causality screen (round 8) between the
    daily click and purchase series, BOTH directions: does
    yesterday's clicks predict today's purchases beyond purchases'
    own autoregression (and vice versa)? Nested-model F solved in
    closed form from centered moments — the lead-lag triage that
    decides whether a real forecasting model is worth building and
    in which direction. The event log folds to the 30-row day frame;
    lags are one window over it and every moment is an EXACT BIGINT
    sum, so the double algebra is bit-identical across engines
    (operators/timeseries.py:granger_lag1). Full oracle."""
    from vectordb_migrator_spark.operators.timeseries import granger_lag1

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("y"),
    )
    return granger_lag1(daily, day_col="day", x_col="x", y_col="y")


# ---------------------------------------------------------------------
# x7_tost — equivalence (two one-sided tests) gate
# ---------------------------------------------------------------------

@query(
    "x7_tost",
    """
    WITH m AS (
      SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_a,
             sum(CASE WHEN NOT (user_id % 2 = 0) THEN 1 ELSE 0 END)
               ::BIGINT AS n_b,
             sum(CASE WHEN user_id % 2 = 0
                      THEN round(value, 6)::DECIMAL(18,6) END) AS sa,
             sum(CASE WHEN NOT (user_id % 2 = 0)
                      THEN round(value, 6)::DECIMAL(18,6) END) AS sb,
             sum(CASE WHEN user_id % 2 = 0
                      THEN round(value, 6)::DECIMAL(19,6)
                           * round(value, 6)::DECIMAL(19,6) END) AS qa,
             sum(CASE WHEN NOT (user_id % 2 = 0)
                      THEN round(value, 6)::DECIMAL(19,6)
                           * round(value, 6)::DECIMAL(19,6) END) AS qb
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), s AS (
      SELECT n_a, n_b,
             sa::DOUBLE / n_a::DOUBLE AS ma,
             sb::DOUBLE / n_b::DOUBLE AS mb,
             (qa::DOUBLE - n_a::DOUBLE * (sa::DOUBLE / n_a::DOUBLE)
                           * (sa::DOUBLE / n_a::DOUBLE))
               / nullif(n_a::DOUBLE - 1, 0) AS va,
             (qb::DOUBLE - n_b::DOUBLE * (sb::DOUBLE / n_b::DOUBLE)
                           * (sb::DOUBLE / n_b::DOUBLE))
               / nullif(n_b::DOUBLE - 1, 0) AS vb
      FROM m
    ), z AS (
      SELECT n_a, n_b, ma, mb,
             ma - mb AS diff,
             sqrt(va / n_a::DOUBLE + vb / n_b::DOUBLE) AS se,
             abs(mb) * 0.02 AS margin
      FROM s
    )
    SELECT n_a, n_b,
           round(ma, 6) AS mean_a,
           round(mb, 6) AS mean_b,
           round(diff, 6) AS diff,
           round(se, 6) AS se,
           round(margin, 6) AS margin,
           round((diff + margin) / nullif(se, 0), 6) AS z_lower,
           round((margin - diff) / nullif(se, 0), 6) AS z_upper,
           round((diff + margin) / nullif(se, 0), 6) > 1.644854
             AND round((margin - diff) / nullif(se, 0), 6) > 1.644854
             AS equivalent
    FROM z
    """,
)
def x7_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — TOST equivalence gate (round 8) between the even/odd
    user-id variants on event value: the test that can POSITIVELY
    conclude "same within ±2% of control" — what a non-significant
    difference test never licenses, and the right gate for refactors,
    infra swaps, and holdbacks where the desired outcome is NO
    change. Both one-sided Welch z's must clear 1.645. One
    map-side-combined moment fold (6dp decimal sums) collapses the
    corpus; engine-exact (operators/scale.py:tost_equivalence). Full
    oracle."""
    from vectordb_migrator_spark.operators.scale import tost_equivalence

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return tost_equivalence(
        ev,
        "value",
        variant_expr=(F.col("user_id") % 2 == 0),
        rel_margin=0.02,
    )


# ---------------------------------------------------------------------
# x5_heaps_fit — Heaps'-law vocabulary-growth fit
# ---------------------------------------------------------------------

@query(
    "x5_heaps_fit",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
                                               '\s+')) AS w
      FROM documents
    ), tkf AS (
      SELECT doc_id, w FROM tk WHERE w <> ''
    ), firsts AS (
      SELECT w, min(doc_id) AS fd FROM tkf GROUP BY w
    ), dc AS (
      SELECT doc_id, count(*)::BIGINT AS nt FROM tkf GROUP BY doc_id
    ), mx AS (
      SELECT max(doc_id) + 1 AS m FROM documents
    ), ck AS (
      SELECT r.i, ceil(mx.m * r.i / 10.0)::BIGINT AS t
      FROM mx, range(1, 11) r(i)
    ), nv AS (
      SELECT i,
             (SELECT sum(nt) FROM dc WHERE doc_id < ck.t)::DOUBLE
               AS n_tok,
             (SELECT count(*) FROM firsts WHERE fd < ck.t)::DOUBLE
               AS vocab
      FROM ck
    ), pts AS (
      SELECT ln(n_tok) AS x, ln(vocab) AS y FROM nv
    ), s AS (
      SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pts
    ), fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS lnk,
             (n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      FROM s
    )
    SELECT n::BIGINT AS n_checkpoints,
           (SELECT sum(nt) FROM dc)::BIGINT AS total_tokens,
           (SELECT count(*) FROM firsts)::BIGINT AS vocab,
           round(beta, 6) AS beta,
           round(exp(lnk), 6) AS k,
           round(r2, 6) AS r2,
           round(exp(lnk + beta * ln(10.0
                 * (SELECT sum(nt) FROM dc)::DOUBLE)), 2)
             AS vocab_at_10x
    FROM fit
    """,
)
def x5_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — Heaps'-law fit of vocabulary growth (round 8): V(N) ≈
    K·N^β estimated from 10 corpus-prefix checkpoints (by doc id, the
    fixed ingest order) — the growth-curve twin of ``x5_zipf_fit``'s
    rank curve, and the capacity planner for anything vocab-shaped
    (BPE merge budgets, hash-vocab sizes, term-index memory:
    ``vocab_at_10x`` extrapolates the vocabulary at 10× the corpus).
    β drifting up across snapshots means the corpus is getting
    noisier (OCR junk, unseen languages), down means dedup/templates.
    Scale shape: checkpoint vocab counts need NO per-checkpoint
    rescan — ONE (token → first-doc) aggregate and one per-doc token
    count feed 10 conditional sums; the regression is closed-form on
    10 points (ln ulps wash out at round-6, the zipf precedent).
    Full oracle."""
    from vectordb_migrator_spark.operators.util import fan_out

    docs = _t(spark, sf_dir, "documents")
    tk = fan_out(docs).select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("w"),
    )
    firsts = tk.groupBy("w").agg(F.min("doc_id").alias("fd"))
    dc = tk.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nt")
    )
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))

    def t_i(i: int):
        return F.ceil(F.col("m") * F.lit(i) / F.lit(10.0)).cast("long")

    v_agg = firsts.crossJoin(F.broadcast(mx)).agg(
        *[
            F.sum((F.col("fd") < t_i(i)).cast("long"))
            .cast("double")
            .alias(f"v{i}")
            for i in range(1, 11)
        ],
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    n_agg = dc.crossJoin(F.broadcast(mx)).agg(
        *[
            F.sum(F.when(F.col("doc_id") < t_i(i), F.col("nt")))
            .cast("double")
            .alias(f"n{i}")
            for i in range(1, 11)
        ],
        F.sum("nt").cast("long").alias("total_tokens"),
    )
    both = v_agg.crossJoin(n_agg)
    pts = both.select(
        "vocab",
        "total_tokens",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.log(F.col(f"n{i}")).alias("x"),
                        F.log(F.col(f"v{i}")).alias("y"),
                    )
                    for i in range(1, 11)
                ]
            )
        ).alias("p"),
    )
    s = pts.groupBy("vocab", "total_tokens").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("p.x").alias("sx"),
        F.sum("p.y").alias("sy"),
        F.sum(F.col("p.x") * F.col("p.x")).alias("sxx"),
        F.sum(F.col("p.y") * F.col("p.y")).alias("syy"),
        F.sum(F.col("p.x") * F.col("p.y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    beta = num / dxx
    lnk = (F.col("sy") - beta * F.col("sx")) / F.col("n")
    return s.select(
        F.col("n").cast("long").alias("n_checkpoints"),
        "total_tokens",
        "vocab",
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(lnk), 6).alias("k"),
        F.round(num * num / (dxx * dyy), 6).alias("r2"),
        F.round(
            F.exp(
                lnk
                + beta
                * F.log(
                    F.lit(10.0) * F.col("total_tokens").cast("double")
                )
            ),
            2,
        ).alias("vocab_at_10x"),
    )


# ---------------------------------------------------------------------
# core SQL surface: full window-rank family + GROUPING SETS
# ---------------------------------------------------------------------

@query(
    "window_rank_functions",
    """
    WITH t AS (
      SELECT o_orderpriority AS pri, o_orderkey AS k,
             round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey < 200
    )
    SELECT pri, k,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER w AS rn,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist,
           ntile(4) OVER w AS quartile,
           lag(k, 1) OVER w AS prev_k,
           lead(k, 1) OVER w AS next_k,
           first_value(k) OVER w AS first_k,
           last_value(k) OVER (PARTITION BY pri ORDER BY price DESC, k
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS last_k,
           nth_value(k, 2) OVER (PARTITION BY pri
                                 ORDER BY price DESC, k
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING) AS second_k
    FROM t
    WINDOW w AS (PARTITION BY pri ORDER BY price DESC, k)
    ORDER BY pri, rn
    """,
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core SQL surface — the COMPLETE window-rank family in one
    query (rank, dense_rank, row_number, percent_rank, cume_dist,
    ntile, lag/lead, first/last/nth_value with explicit frames) over
    a deterministic (price DESC, key) order: the breadth check that
    every ranking shape an analyst reaches for exists and agrees
    cross-engine, including the frame-sensitive last/nth_value whose
    default RANGE frame is the classic silent-wrong-answer. Bounded
    input (key < 200) keeps the window partition-local. Full
    oracle."""
    from pyspark.sql import Window as W

    t = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice"), 2).alias("price"),
        )
    )
    w = W.partitionBy("pri").orderBy(F.desc("price"), F.asc("k"))
    wf = W.partitionBy("pri").orderBy(F.desc("price"), F.asc("k")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return t.select(
        "pri",
        "k",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("k", 1).over(w).alias("prev_k"),
        F.lead("k", 1).over(w).alias("next_k"),
        F.first("k").over(w).alias("first_k"),
        F.last("k").over(wf).alias("last_k"),
        F.nth_value("k", 2).over(wf).alias("second_k"),
    ).orderBy("pri", "rn")


@query(
    "grouping_sets_revenue",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS pri,
           coalesce(o_orderstatus, 'ALL') AS status,
           grouping(o_orderpriority)::BIGINT + 2 * grouping(o_orderstatus)
             ::BIGINT AS gid,
           count(*)::BIGINT AS n_orders,
           round(sum(round(o_totalprice, 2)::DECIMAL(18,2))::DOUBLE, 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    ORDER BY gid, pri, status
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core SQL surface — explicit GROUPING SETS (the general form
    cube/rollup specialize) with grouping() provenance flags: the
    four aggregation grains a reporting layer asks for in one scan
    instead of four, with ``gid`` disambiguating an 'ALL' label from
    a literal value. Decimal revenue sums keep the totals
    engine-exact. Full oracle."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupingSets(
        [
            [F.col("o_orderpriority"), F.col("o_orderstatus")],
            [F.col("o_orderpriority")],
            [F.col("o_orderstatus")],
            [],
        ],
        F.col("o_orderpriority"),
        F.col("o_orderstatus"),
    ).agg(
        (
            F.grouping("o_orderpriority").cast("long")
            + F.lit(2) * F.grouping("o_orderstatus").cast("long")
        ).alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum(
                F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)")
            ).cast("double"),
            2,
        ).alias("revenue"),
    )
    return g.select(
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("pri"),
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        "gid",
        "n_orders",
        "revenue",
    ).orderBy("gid", "pri", "status")


# ---------------------------------------------------------------------
# x12_cardinality_estimate — key-sampled join-size estimation vs truth
# ---------------------------------------------------------------------


def _card_est_direction_sql(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
      SELECT '{name}' AS relation,
             exact_rows,
             round(est_rows, 2) AS est_rows,
             round(abs(est_rows - exact_rows) / exact_rows, 6)
               AS rel_error,
             sampled_keys
      FROM (
        SELECT
          (SELECT coalesce(sum(na * nb), 0) FROM (
             SELECT count(*) AS na, {lk} AS k FROM {lt} GROUP BY {lk}
           ) a JOIN (
             SELECT count(*) AS nb, {rk} AS k FROM {rt} GROUP BY {rk}
           ) b USING (k))::BIGINT AS exact_rows,
          (SELECT coalesce(sum(na * nb), 0) FROM (
             SELECT count(*) AS na, {lk} AS k FROM {lt}
             WHERE substr(md5({lk}::VARCHAR), 1, 2) < '1a'
             GROUP BY {lk}
           ) a JOIN (
             SELECT count(*) AS nb, {rk} AS k FROM {rt}
             WHERE substr(md5({rk}::VARCHAR), 1, 2) < '1a'
             GROUP BY {rk}
           ) b USING (k)) * 256.0 / 26.0 AS est_rows,
          (SELECT count(DISTINCT {lk}) FROM {lt}
           WHERE substr(md5({lk}::VARCHAR), 1, 2) < '1a')::BIGINT
            AS sampled_keys
      )"""


@query(
    "x12_cardinality_estimate",
    "SELECT * FROM ("
    + _card_est_direction_sql(
        "orders_x_lineitem", "orders", "o_orderkey", "lineitem",
        "l_orderkey",
    )
    + " UNION ALL "
    + _card_est_direction_sql(
        "part_x_lineitem", "part", "p_partkey", "lineitem", "l_partkey"
    )
    + ") ORDER BY relation",
)
def x12_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 — sampled join-cardinality estimation vs ground truth
    (round 8): estimate |A ⋈ B| from a ~10% KEY-domain sample (key k
    enters iff md5(k)'s first hex byte < 0x1A — sampling the key
    DOMAIN, not rows, keeps the per-key na·nb product intact, which
    row-Bernoulli sampling biases quadratically) scaled by 1/p, next
    to the exact count and the relative error. This is the
    estimate-before-you-shuffle discipline at 100 TB: the exact
    column is what ``x12_join_cardinality`` charges a full pass for;
    this row says how close a 10% key sketch gets for 10% the cost.
    md5 sampling makes the estimate engine-exact, not a seed lottery.
    Full oracle."""
    out = None
    for name, lt, lk, rt, rk in [
        ("orders_x_lineitem", "orders", "o_orderkey", "lineitem",
         "l_orderkey"),
        ("part_x_lineitem", "part", "p_partkey", "lineitem",
         "l_partkey"),
    ]:
        left = _t(spark, sf_dir, lt).select(F.col(lk).alias("k"))
        right = _t(spark, sf_dir, rt).select(F.col(rk).alias("k"))
        coin = F.substring(F.md5(F.col("k").cast("string")), 1, 2) < "1a"
        la = left.groupBy("k").agg(F.count(F.lit(1)).alias("na"))
        ra = right.groupBy("k").agg(F.count(F.lit(1)).alias("nb"))
        exact = la.join(ra, "k").agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("exact_rows")
        )
        ls = left.filter(coin).groupBy("k").agg(
            F.count(F.lit(1)).alias("na")
        )
        rs = right.filter(coin).groupBy("k").agg(
            F.count(F.lit(1)).alias("nb")
        )
        est = ls.join(rs, "k").agg(
            (
                F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
                * F.lit(256.0)
                / F.lit(26.0)
            ).alias("est_rows")
        )
        nk = left.filter(coin).agg(
            F.countDistinct("k").cast("long").alias("sampled_keys")
        )
        row = (
            exact.crossJoin(est)
            .crossJoin(nk)
            .select(
                F.lit(name).alias("relation"),
                "exact_rows",
                F.round(F.col("est_rows"), 2).alias("est_rows"),
                F.round(
                    F.abs(F.col("est_rows") - F.col("exact_rows"))
                    / F.col("exact_rows"),
                    6,
                ).alias("rel_error"),
                "sampled_keys",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("relation")


# ---------------------------------------------------------------------
# x13_cohort_decay — exponential retention-decay fit across cohorts
# ---------------------------------------------------------------------

@query(
    "x13_cohort_decay",
    """
    WITH e AS (
      SELECT user_id, date_trunc('day', ts) AS day
      FROM events WHERE user_id IS NOT NULL
    ), m AS (
      SELECT min(day) AS d0 FROM e
    ), u AS (
      SELECT DISTINCT user_id,
             (date_diff('day', m.d0, e.day) // 7)::BIGINT AS wk
      FROM e, m
    ), c AS (
      SELECT user_id, min(wk) AS cw FROM u GROUP BY user_id
    ), sz AS (
      SELECT cw, count(*)::BIGINT AS size FROM c GROUP BY cw
    ), act AS (
      SELECT c.cw, (u.wk - c.cw)::BIGINT AS off,
             count(*)::BIGINT AS active
      FROM u JOIN c USING (user_id) GROUP BY c.cw, (u.wk - c.cw)
    ), pts AS (
      SELECT off::DOUBLE AS x, ln(active::DOUBLE / size) AS y
      FROM act JOIN sz USING (cw) WHERE off >= 1
    ), s AS (
      SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pts
    ), fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      FROM s
    ), w1 AS (
      SELECT round(sum(round(active::DOUBLE / size, 6)
                       ::DECIMAL(18,6))::DOUBLE
                   / count(*), 6) AS w1_retention
      FROM act JOIN sz USING (cw) WHERE off = 1
    )
    SELECT n::BIGINT AS n_points,
           round(slope, 6) AS decay_rate,
           CASE WHEN slope < 0
                THEN round(0.6931471805599453 / (-slope), 6) END
             AS half_life_weeks,
           round(r2, 6) AS r2,
           (SELECT w1_retention FROM w1) AS w1_retention
    FROM fit
    """,
)
def x13_cohort_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 — exponential retention-decay fit (round 8): pool every
    cohort's (week-offset, ln retention) points and fit
    ln r = a + λ·t — the one-number engagement readout (λ and its
    half-life in weeks) that turns the retention TABLE
    (``cohort_weekly_retention``) into a forecastable decay constant,
    plus R² to say whether retention is actually exponential (a high
    λ with poor fit usually means a loyal-core + tourists mixture,
    not uniform decay). Week indexes are integer day-arithmetic (no
    calendar-week semantics to disagree on); the corpus folds to the
    (cohort, offset) frame before any math; OLS is closed-form on
    ~dozen points. Full oracle."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    e = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    m = e.agg(F.min("day").alias("d0"))
    u = (
        e.crossJoin(F.broadcast(m))
        .select(
            "user_id",
            F.floor(F.datediff("day", "d0") / 7).cast("long").alias("wk"),
        )
        .distinct()
    )
    c = u.groupBy("user_id").agg(F.min("wk").alias("cw"))
    sz = c.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("size"))
    act = (
        u.join(c, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).cast("long").alias("off"))
        .agg(F.count(F.lit(1)).cast("long").alias("active"))
    )
    joined = act.join(sz, "cw")
    pts = joined.filter(F.col("off") >= 1).select(
        F.col("off").cast("double").alias("x"),
        F.log(F.col("active").cast("double") / F.col("size")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    w1 = joined.filter(F.col("off") == 1).agg(
        F.round(
            F.sum(
                F.round(
                    F.col("active").cast("double") / F.col("size"), 6
                ).cast("decimal(18,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("w1_retention")
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / dxx
    return (
        s.crossJoin(F.broadcast(w1))
        .select(
            F.col("n").cast("long").alias("n_points"),
            F.round(slope, 6).alias("decay_rate"),
            F.when(
                slope < 0,
                F.round(F.lit(0.6931471805599453) / (-slope), 6),
            ).alias("half_life_weeks"),
            F.round(num * num / (dxx * dyy), 6).alias("r2"),
            "w1_retention",
        )
    )


# ---------------------------------------------------------------------
# x9_hadamard_rotation — incoherence processing for low-bit quantization
# ---------------------------------------------------------------------


def _hadamard_sql() -> str:
    def q_expr(v: str, mx: str) -> str:
        return (
            f"(CASE WHEN {v} >= 0 "
            f"THEN floor(127.0 * ({v}::DOUBLE / {mx}) + 0.5) "
            f"ELSE -floor(127.0 * ((-{v})::DOUBLE / {mx}) + 0.5) END)"
        )

    def diff_list(z: str, mx: str, unit: str) -> str:
        return (
            f"[ (v::DOUBLE - {q_expr('v', mx)} * {mx} / 127.0) / {unit} "
            f"for v in {z} ]"
        )

    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> (CASE WHEN x >= 0
                          THEN floor(x * 10000.0 + 0.5)
                          ELSE -floor(-x * 10000.0 + 0.5) END)::BIGINT)
               AS xint
      FROM embeddings
    ), rotated AS (
      SELECT vec_id, xint,
             [ list_sum([ xint[j+1]
                          * (1 - 2 * (bit_count(i & j) % 2))
                          for j in range(64) ])
               for i in range(64) ] AS rot
      FROM base
    ), m AS (
      SELECT vec_id, xint, rot,
             CASE WHEN list_max([abs(v) for v in xint]) = 0 THEN 1.0
                  ELSE list_max([abs(v) for v in xint])::DOUBLE END
               AS mxb,
             CASE WHEN list_max([abs(v) for v in rot]) = 0 THEN 1.0
                  ELSE list_max([abs(v) for v in rot])::DOUBLE END
               AS mxa,
             sqrt(list_sum([v*v for v in xint])::DOUBLE / 64) AS rmsb,
             sqrt(list_sum([v*v for v in rot])::DOUBLE / 64) AS rmsa,
             list_sum([v*v for v in rot])
               = 64 * list_sum([v*v for v in xint]) AS norm_ok
      FROM rotated
    ), dl AS (
      SELECT vec_id, norm_ok,
             floor(mxb / rmsb * 1000000.0 + 0.5)::BIGINT AS iptr_b,
             floor(mxa / rmsa * 1000000.0 + 0.5)::BIGINT AS iptr_a,
             {diff_list('xint', 'mxb', '10000.0')} AS db,
             {diff_list('rot', 'mxa', '80000.0')} AS da
      FROM m
    ), pv AS (
      SELECT vec_id, norm_ok, iptr_b, iptr_a,
             list_sum([ floor(dd*dd*1000000000000.0)::BIGINT
                        for dd in db ]) AS imse_b,
             list_sum([ floor(dd*dd*1000000000000.0)::BIGINT
                        for dd in da ]) AS imse_a
      FROM dl
    )
    SELECT count(*)::BIGINT AS n,
           bool_and(norm_ok) AS norm_preserved,
           round(sum(iptr_b)::DOUBLE / count(*) / 1000000.0, 6)
             AS peak_to_rms_before,
           round(sum(iptr_a)::DOUBLE / count(*) / 1000000.0, 6)
             AS peak_to_rms_after,
           round(sum(imse_b)::DOUBLE / count(*) / 64000000000000.0
                 * 1000000000.0, 6) AS int8_mse_before_e9,
           round(sum(imse_a)::DOUBLE / count(*) / 64000000000000.0
                 * 1000000000.0, 6) AS int8_mse_after_e9,
           round((sum(imse_b)::DOUBLE / count(*) / 64000000000000.0)
                 / nullif(sum(imse_a)::DOUBLE / count(*)
                          / 64000000000000.0, 0), 6)
             AS mse_improvement_x
    FROM pv
    """


@query("x9_hadamard_rotation", _hadamard_sql())
def x9_hadamard_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 — Walsh–Hadamard incoherence processing (round 8): the
    rotate-before-you-quantize step of the QuIP/QuaRot lineage,
    measured — H/√d preserves every norm EXACTLY (certified per
    vector in integer arithmetic) while flattening outlier
    coordinates, so per-vector int8 max-scaling stops spending its
    codebook on one hot dimension. Reports peak-to-RMS and int8
    reconstruction MSE before vs after, and the improvement factor —
    the evidence for inserting the rotation ahead of
    ``x9_int8_quantization`` on corpora whose ``x9_norm_profile``
    shows heavy coordinates. One Arrow-batched mapInPandas (an exact
    int64 d×d matmul per batch, no shuffle) emits 5 fixed-point
    numbers per vector; ONE integer fold makes the report — every
    cross-engine float is a single shared IEEE op sequence
    (operators/decomposition.py:hadamard_rotation_report). Full
    oracle."""
    from vectordb_migrator_spark.operators.decomposition import (
        hadamard_rotation_report,
    )
    from vectordb_migrator_spark.operators.util import fan_out

    emb = _t(spark, sf_dir, "embeddings")
    return hadamard_rotation_report(fan_out(emb))


# ---------------------------------------------------------------------
# x13_p_chart — Shewhart control limits on the daily error rate
# ---------------------------------------------------------------------

@query(
    "x13_p_chart",
    """
    WITH d AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               ::BIGINT AS flagged
      FROM events GROUP BY 1
    ), c AS (
      SELECT sum(flagged)::DOUBLE / sum(n)::DOUBLE AS pbar FROM d
    )
    SELECT day, n, flagged,
           round(flagged::DOUBLE / n::DOUBLE, 6) AS p,
           round(pbar, 6) AS center,
           round(greatest(pbar - 3.0 * sqrt(pbar * (1.0 - pbar)
                                            / n::DOUBLE), 0.0), 6)
             AS lcl,
           round(pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / n::DOUBLE), 6)
             AS ucl,
           (flagged::DOUBLE / n::DOUBLE
              > pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / n::DOUBLE))
           OR (flagged::DOUBLE / n::DOUBLE
              < greatest(pbar - 3.0 * sqrt(pbar * (1.0 - pbar)
                                           / n::DOUBLE), 0.0))
             AS out_of_control
    FROM d, c ORDER BY day
    """,
)
def x13_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 — Shewhart p-chart on the daily error RATE (round 8):
    statistical process control, the methodology the MAD/z detectors
    don't cover — each day's error share is tested against the
    binomial ±3σ limits a truly constant process rate would produce
    at that day's volume, so low-volume days get honestly wider
    limits instead of false alarms, and a flagged day is
    statistically impossible under the process center, not merely
    unusual versus recent history. One (day, n, flagged) fold
    collapses the log; the center broadcasts over the day frame
    (operators/timeseries.py:p_chart). Full oracle."""
    from vectordb_migrator_spark.operators.timeseries import p_chart

    ev = _t(spark, sf_dir, "events")
    return p_chart(ev, flag_expr=(F.col("event_type") == "error"))


# ---------------------------------------------------------------------
# x2_oph_estimate — one-permutation MinHash estimator quality
# ---------------------------------------------------------------------

@query(
    "x2_oph_estimate",
    r"""
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)]) AS g
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS toks
            FROM documents)
      WHERE len(toks) >= 3
    ), sig AS (
      SELECT id,
             [list_min(list_transform(
                list_filter(g, s ->
                  CAST(CONCAT('0x', substr(md5('oph:' || s), 1, 8))
                       AS BIGINT) % 16 = i),
                s -> CAST(CONCAT('0x', substr(md5('oph:' || s), 1, 8))
                          AS BIGINT)))
              for i in range(16)] AS s
      FROM sh
    ), dn AS (
      SELECT id,
             round(len([v for v in s if v IS NULL]) / 16.0, 6)
               AS empty_share,
             [ [s[((b+j)%16)+1] + j * 8589934592
                for j in range(16) if s[((b+j)%16)+1] IS NOT NULL][1]
               for b in range(16) ] AS dense
      FROM sig
    ), ex AS (
      SELECT id, len(g)::BIGINT AS n, unnest(g) AS gram FROM sh
    ), pairsj AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(count(*)::DOUBLE /
                   (any_value(a.n) + any_value(b.n) - count(*))::DOUBLE,
                   6) AS true_j
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING count(*)::DOUBLE /
             (any_value(a.n) + any_value(b.n) - count(*))::DOUBLE >= 0.2
    ), est AS (
      SELECT p.id_a, p.id_b, p.true_j,
             round(len([i for i in range(1, 17)
                        if da.dense[i] = db.dense[i]]) / 16.0, 6)
               AS est
      FROM pairsj p
      JOIN dn da ON da.id = p.id_a
      JOIN dn db ON db.id = p.id_b
    )
    SELECT (SELECT count(*) FROM dn)::BIGINT AS n_docs,
           (SELECT round(sum(empty_share::DECIMAL(9,6))::DOUBLE
                         / count(*), 6) FROM dn) AS mean_empty_share,
           count(*)::BIGINT AS n_pairs,
           round(sum(round(abs(est - true_j), 6)::DECIMAL(9,6))::DOUBLE
                 / count(*), 6) AS mae,
           round(sum(round(est - true_j, 6)::DECIMAL(9,6))::DOUBLE
                 / count(*), 6) AS bias,
           CAST(16.0 AS DOUBLE) AS hash_evals_saved_x
    FROM est
    """,
)
def x2_oph_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — one-permutation MinHash estimator quality (round 8): OPH
    hashes every shingle ONCE and bins it (vs 16 evaluations per
    shingle in ``x2_minhash_estimate_error``'s classic signatures —
    the 16× hash-economy that matters over a 100 TB shingle stream),
    with rotation densification filling short documents' empty bins
    unbiasedly. Reports the matched-bin Jaccard estimator's MAE and
    bias against exact shingle Jaccard on the true near-dup pairs,
    plus the mean empty-bin share (how hard densification is
    working). Signature build is one scan-side codegen fold — no
    shuffle, no k-hash fan-out
    (operators/dedup.py:oph_signatures). Full oracle."""
    from vectordb_migrator_spark.operators.dedup import (
        ngram_jaccard_pairs,
        oph_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = oph_signatures(docs, shingle_n=3, k=16).localCheckpoint(
        eager=True
    )
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        "id_a", "id_b", F.col("jaccard").alias("true_j")
    )
    da = sigs.select(F.col("id").alias("id_a"), F.col("dense").alias("__da"))
    db = sigs.select(F.col("id").alias("id_b"), F.col("dense").alias("__db"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("__da"), F.col("__db"), lambda x, y: x == y),
            lambda t: t,
        )
    )
    est = (
        pairs.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            "true_j",
            F.round(matches / F.lit(16.0), 6).alias("est"),
        )
    )
    doc_stats = sigs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(
                F.round(F.col("empty_share"), 6).cast("decimal(9,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_empty_share"),
    )
    pair_stats = est.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(
                F.round(F.abs(F.col("est") - F.col("true_j")), 6).cast(
                    "decimal(9,6)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mae"),
        F.round(
            F.sum(
                F.round(F.col("est") - F.col("true_j"), 6).cast(
                    "decimal(9,6)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bias"),
    )
    return doc_stats.crossJoin(pair_stats).select(
        "n_docs",
        "mean_empty_share",
        "n_pairs",
        "mae",
        "bias",
        F.round(F.lit(16.0), 6).alias("hash_evals_saved_x"),
    )


# ---------------------------------------------------------------------
# x7_gini — concentration of event volume across users
# ---------------------------------------------------------------------

@query(
    "x7_gini",
    """
    WITH u AS (
      SELECT user_id, count(*)::BIGINT AS x
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), r AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM u
    ), a AS (
      SELECT count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx,
             sum(i * x)::BIGINT AS six
      FROM r
    )
    SELECT n AS n_users, sx AS n_events,
           round(2.0 * six / (n * sx::DOUBLE)
                 - (n + 1) / n::DOUBLE, 6) AS gini,
           round(sx::DOUBLE / n, 6) AS mean_events,
           2.0 * six / (n * sx::DOUBLE) - (n + 1) / n::DOUBLE > 0.4
             AS concentrated
    FROM a
    """,
)
def x7_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — Gini coefficient of per-user event volume (round 8): the
    scalar inequality measure behind the Pareto table
    (``x0_pareto_parts`` answers "how much do the top 20% carry";
    Gini integrates the whole Lorenz curve into one comparable
    number, the statistic to TREND across snapshots — a rising Gini
    means the corpus is becoming a few whales' diary, which skews
    every per-user estimator upstream). Exact rank formula
    G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n over the PRE-AGGREGATED user
    frame (the only sort is over users, never events; ties broken by
    user id so both engines rank identically — Gini itself is
    tie-order invariant, the determinism is for the oracle). All
    moments are exact BIGINT. Full oracle."""
    from pyspark.sql import Window as W

    u = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    r = u.select(
        "x",
        F.row_number().over(W.orderBy("x", "user_id")).alias("i"),
    )
    a = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    n = F.col("n")
    gini = F.lit(2.0) * F.col("six") / (
        n * F.col("sx").cast("double")
    ) - (n + 1) / n.cast("double")
    return a.select(
        n.alias("n_users"),
        F.col("sx").alias("n_events"),
        F.round(gini, 6).alias("gini"),
        F.round(F.col("sx").cast("double") / n, 6).alias("mean_events"),
        (gini > F.lit(0.4)).alias("concentrated"),
    )


# ---------------------------------------------------------------------
# x10_uncertainty_sample — active-learning labeling batch
# ---------------------------------------------------------------------


def _bind_uncertainty_oracle() -> None:
    from vectordb_migrator_spark.suite._shared import ORACLES

    cal = ORACLES["x5_nb_calibration"]
    head = cal[: cal.index("), binned AS")] + ")"
    ORACLES["x10_uncertainty_sample"] = head + """
    , sel AS (
      SELECT lang, conf FROM post ORDER BY conf, doc_id LIMIT 50
    ), comp AS (
      SELECT lang, count(*)::BIGINT AS n_selected,
             round(sum(conf::DECIMAL(18,6))::DOUBLE / count(*), 6)
               AS mean_conf
      FROM sel GROUP BY lang
    ), corp AS (
      SELECT lang, count(*)::BIGINT AS n_corpus FROM documents
      GROUP BY lang
    )
    SELECT c.lang, comp.n_selected,
           round(comp.n_selected / 50.0, 6) AS batch_share,
           round(c.n_corpus::DOUBLE /
                 (SELECT count(*) FROM documents), 6) AS corpus_share,
           comp.mean_conf
    FROM corp c JOIN comp ON comp.lang = c.lang
    ORDER BY c.lang
    """


_bind_uncertainty_oracle()


@query("x10_uncertainty_sample", None)  # oracle bound above
def x10_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 — least-confidence uncertainty sampling (round 8): the
    active-learning step that decides WHICH 50 documents are worth a
    human label — the ones the NB language classifier is least sure
    about (smallest winning posterior, doc-id tie-break), where one
    label buys the most decision-boundary information; random
    sampling would spend most of the budget on documents the model
    already classifies confidently. Reports the batch's per-language
    composition against the corpus shares (an over-represented
    language in the batch is where the classifier's confusion lives
    — read next to ``x5_langid_confusion``) and the batch's mean
    confidence. Fit and the zero-shuffle scoring pass are the shared
    NB kernel; selection is one TakeOrdered(50)
    (operators/classify.py:nb_fit/nb_score). Full oracle."""
    from vectordb_migrator_spark.operators.classify import nb_fit, nb_score

    docs = _t(spark, sf_dir, "documents")
    model = nb_fit(docs, "text", "lang", dim=64, alpha=1.0)
    scored = nb_score(
        docs, model, "text", dim=64, posterior_col="conf"
    )
    sel = scored.orderBy("conf", "doc_id").limit(50)
    comp = sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.round(
            F.sum(F.col("conf").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_conf"),
    )
    total = docs.count()
    corp = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus")
    )
    return (
        corp.join(comp, "lang")
        .select(
            "lang",
            "n_selected",
            F.round(F.col("n_selected") / F.lit(50.0), 6).alias(
                "batch_share"
            ),
            F.round(
                F.col("n_corpus").cast("double") / F.lit(float(total)), 6
            ).alias("corpus_share"),
            "mean_conf",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------
# x8 — native window() semantics proven in batch (tumbling + sliding)
# ---------------------------------------------------------------------

@query(
    "x8_tumbling_window_batch",
    """
    SELECT strftime(to_timestamp((epoch(ts)::BIGINT // 21600) * 21600),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(round(value, 6)::DECIMAL(18,6))::DOUBLE, 4)
             AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def x8_tumbling_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — the native ``F.window`` tumbling aggregation, batch
    semantics (round 8): 6-hour epoch-aligned windows per event type
    — the exact groupBy a Structured Streaming job runs behind a
    watermark, proven against a calendar-free epoch-division oracle
    so the streaming rollups inherit oracle-certified bucketing
    (``x8_session_window_batch`` covers gaps; this covers the fixed
    grid). One map-side-combinable aggregate. Full oracle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(
                    F.round(F.col("value").cast("double"), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                4,
            ).alias("total_value"),
        )
        .select(
            F.date_format(
                F.col("w.start"), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "x8_sliding_window_batch",
    """
    WITH s AS (
      SELECT u.k AS k, ts, value FROM events,
           (VALUES (0), (1)) u(k)
      WHERE epoch(ts)::BIGINT >= ((epoch(ts)::BIGINT - u.k * 10800)
                                  // 21600) * 21600 + u.k * 10800
    )
    SELECT strftime(to_timestamp(((epoch(ts)::BIGINT - k * 10800)
                                  // 21600) * 21600 + k * 10800),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*)::BIGINT AS n,
           round(sum(round(value, 6)::DECIMAL(18,6))::DOUBLE, 4)
             AS total_value
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def x8_sliding_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — the native ``F.window`` SLIDING aggregation, batch
    semantics (round 8): 6-hour windows sliding every 3 hours — each
    event lands in exactly two overlapping windows, the shape hourly
    dashboards smooth with. The oracle replays the overlap as two
    phase-shifted epoch-aligned tumbling grids unioned, proving
    Spark's window assignment (including the phase arithmetic) row
    for row. One aggregate over the 2× window-exploded frame. Full
    oracle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(
                    F.round(F.col("value").cast("double"), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                4,
            ).alias("total_value"),
        )
        .select(
            F.date_format(
                F.col("w.start"), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "n",
            "total_value",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------
# c3 — the Milvus connector round trip at bench row counts
# ---------------------------------------------------------------------

@query(
    "c3_milvus_roundtrip_scale",
    """
    SELECT count(*)::BIGINT AS points,
           count(DISTINCT e.vec_id * 30 + t.i)::BIGINT AS ids,
           sum(e.label)::BIGINT AS label_sum,
           max(len(e.embedding))::BIGINT AS dim
    FROM embeddings e, range(30) t(i)
    """,
)
def c3_milvus_roundtrip_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/K3 — the native ``format("milvus")`` connector round trip
    at bench row counts (round 8): collection DDL driver-side (the
    sink refuses DDL, matching the reference), canonical frame →
    columnar-conform batched INSERT through the Python DataSource
    sink (C4 null-id skip, C6 schema conform, INT64 pk coercion,
    sources/milvus.py:sink), then a PK-residue-sharded scan back (16
    partitions, each a server-side ``((pk % N) + N) % N == i``
    filter, sources/milvus.py:shard_expr) against the file-backed demo server
    — the second connector protocol with throughput evidence next to
    ``c2_qdrant_roundtrip_scale``, covering the columnar-insert +
    expr-pushdown path the Qdrant row doesn't. The certify aggregate
    proves every point survived with pk, payload, and vector intact.
    Full oracle (replication-expressed). Self-contained: registers
    the package's Python DataSources on the session it is handed
    (idempotent), so it also runs in a plain SparkSession that never
    went through ``session.get_spark``."""
    import tempfile

    from vectordb_migrator_spark.sources.demo_backend import (
        create_milvus_demo_collection,
    )
    from vectordb_migrator_spark.sources.pyds import register_data_sources
    from vectordb_migrator_spark.suite.s10_round8_a import _replicated

    register_data_sources(spark)
    store = tempfile.mkdtemp(prefix="demo_milvus_")
    factory = (
        "vectordb_migrator_spark.sources.demo_backend:milvus_demo_factory"
    )
    emb = _t(spark, sf_dir, "embeddings")
    dim = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    create_milvus_demo_collection(
        store,
        "bench",
        {
            "fields": [
                {"name": "pk", "is_primary": True, "type": "INT64"},
                {"name": "vec", "type": "FLOAT_VECTOR", "dim": dim},
                {"name": "label", "type": "VARCHAR"},
            ]
        },
    )
    canon = _replicated(spark, sf_dir).select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vector"),
        F.create_map(
            F.lit("label"), F.col("label").cast("string")
        ).alias("metadata"),
    )
    (
        canon.write.format("milvus")
        .mode("append")
        .option("client_factory", factory)
        .option("store_dir", store)
        .option("collection_name", "bench")
        # 4000-row columnar batches (~1 MB with the 64-dim vectors) —
        # the MB-scale insert real pymilvus clients batch to; r12:
        # 60 -> 15 client round trips, write 9.5 -> 5.4 s at sf0.1
        .option("batch_size", "4000")
        .save()
    )
    back = (
        spark.read.format("milvus")
        .option("client_factory", factory)
        .option("store_dir", store)
        .option("collection_name", "bench")
        .option("num_partitions", "16")
        .option("batch_size", "4000")
        .load()
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("points"),
        F.countDistinct("id").cast("long").alias("ids"),
        F.sum(F.col("metadata").getItem("label").cast("long"))
        .cast("long")
        .alias("label_sum"),
        F.max(F.size("vector")).cast("long").alias("dim"),
    )


# ---------------------------------------------------------------------
# c4 — the Pinecone connector round trip at bench row counts
# ---------------------------------------------------------------------

@query(
    "c4_pinecone_roundtrip_scale",
    """
    SELECT count(*)::BIGINT AS points,
           count(DISTINCT e.vec_id * 30 + t.i)::BIGINT AS ids,
           sum(e.label)::BIGINT AS label_sum,
           max(len(e.embedding))::BIGINT AS dim
    FROM embeddings e, range(30) t(i)
    """,
)
def c4_pinecone_roundtrip_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/K4 — the native ``format("pinecone")`` connector round trip
    at bench row counts (round 8): index DDL via ``create_index``
    (the one connector whose reference adapter DOES create), batched
    ``upsert`` through the Python DataSource sink, then the
    prefix-partitioned scan back (10 leading-digit id prefixes, each
    partition paging sorted ``list()`` ids and ``fetch``-ing pages —
    the only parallel axis the list API offers,
    sources/pinecone.py:scan). Completes the connector throughput
    matrix: parquet (c0), Qdrant cursor-segment (c2), Milvus
    PK-residue (c3), Pinecone id-prefix (c4) — four scan-planning
    strategies, each certified by the same
    every-point-survived aggregate. Full oracle
    (replication-expressed). Self-contained: registers the package's
    Python DataSources on the session it is handed (idempotent), so
    it also runs in a plain SparkSession that never went through
    ``session.get_spark``."""
    import json as _json
    import tempfile

    from vectordb_migrator_spark.sources.pyds import register_data_sources
    from vectordb_migrator_spark.suite.s10_round8_a import _replicated

    register_data_sources(spark)
    store = tempfile.mkdtemp(prefix="demo_pinecone_")
    factory = (
        "vectordb_migrator_spark.sources.demo_backend:pinecone_demo_factory"
    )
    emb = _t(spark, sf_dir, "embeddings")
    dim = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    canon = _replicated(spark, sf_dir).select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").alias("vector"),
        F.create_map(
            F.lit("label"), F.col("label").cast("string")
        ).alias("metadata"),
    )
    (
        canon.write.format("pinecone")
        .mode("append")
        .option("client_factory", factory)
        .option("store_dir", store)
        .option("index_name", "bench")
        .option("create_index", "true")
        .option("dimension", str(dim))
        # 1000 records/upsert is the real Pinecone API ceiling — use
        # all of it (r12; was 500)
        .option("batch_size", "1000")
        .save()
    )
    back = (
        spark.read.format("pinecone")
        .option("client_factory", factory)
        .option("store_dir", store)
        .option("index_name", "bench")
        .option("id_prefixes", _json.dumps([str(d) for d in range(10)]))
        .option("batch_size", "1000")
        .load()
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("points"),
        F.countDistinct("id").cast("long").alias("ids"),
        F.sum(F.col("metadata").getItem("label").cast("long"))
        .cast("long")
        .alias("label_sum"),
        F.max(F.size("vector")).cast("long").alias("dim"),
    )
