"""Experiment evaluation: A/B tests, CUPED, difference-in-differences,
power, uplift, quantile treatment effects, regression discontinuity
and calibration checks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...core import _r6, _register, _t


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B estimate
# ---------------------------------------------------------------------------

@_register(
    "cuped_adjusted_ab_events",
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS grp,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM u
    ),
    t AS (
      SELECT n, sx / n AS mean_x_all,
             (sxy - sx * (sy / n)) / (sxx - sx * (sx / n)) AS theta
      FROM g
    ),
    p AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS sx_g,
             CAST(sum(y) AS BIGINT) AS sy_g,
             CAST(sum(x * x) AS BIGINT) AS sxx_g,
             CAST(sum(x * y) AS BIGINT) AS sxy_g,
             CAST(sum(y * y) AS BIGINT) AS syy_g
      FROM u GROUP BY 1
    )
    SELECT grp,
           n_g AS n_users,
           floor((sy_g / n_g) * 10000 + 0.5) / 10000.0 AS mean_y_cents,
           floor(((sy_g / n_g) - theta * ((sx_g / n_g) - mean_x_all))
                 * 10000 + 0.5) / 10000.0 AS mean_y_adj_cents,
           floor(theta * 1000000 + 0.5) / 1000000.0 AS theta,
           floor((1 - (((syy_g - sy_g * (sy_g / n_g)) / (n_g - 1))
                       - 2 * theta * ((sxy_g - sx_g * (sy_g / n_g)) / (n_g - 1))
                       + theta * theta * ((sxx_g - sx_g * (sx_g / n_g)) / (n_g - 1)))
                     / ((syy_g - sy_g * (sy_g / n_g)) / (n_g - 1)))
                 * 1000000 + 0.5) / 1000000.0 AS var_reduction
    FROM p CROSS JOIN t
    ORDER BY grp
    """,
    "CUPED variance reduction for A/B experiments (Deng et al., "
    "WSDM'13): users hash-split 50/50 by md5, pre-period value sum is "
    "the covariate, theta = cov(x,y)/var(x) fitted on ALL users from "
    "EXACT integer-cent moment sums (one users-sized aggregate), and "
    "each arm reports raw vs CUPED-adjusted post-period means plus "
    "the achieved variance-reduction ratio. Two shuffles total (user "
    "rollup, then a 2-group moment aggregate); the theta row "
    "broadcasts back. Every double comes from the same IEEE "
    "expression over the same integers on both engines.",
    ("stats", "ab-testing", "events"),
)
def cuped_adjusted_ab_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp")
    grp = F.when(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1).isin(
            *"01234567"
        ),
        "A",
    ).otherwise("B")
    u = (
        e.groupBy("user_id")
        .agg(
            F.first(grp).alias("grp"),
            F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0))).alias("y"),
        )
    )
    g = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(20,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(20,0)") * F.col("y")).alias("sxy"),
    ).select(
        (F.col("sx") / F.col("n")).alias("mean_x_all"),
        (
            (F.col("sxy") - F.col("sx") * (F.col("sy") / F.col("n")))
            / (F.col("sxx") - F.col("sx") * (F.col("sx") / F.col("n")))
        ).alias("theta"),
    )
    p = u.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("x").alias("sx_g"),
        F.sum("y").alias("sy_g"),
        F.sum(F.col("x").cast("decimal(20,0)") * F.col("x")).alias("sxx_g"),
        F.sum(F.col("x").cast("decimal(20,0)") * F.col("y")).alias("sxy_g"),
        F.sum(F.col("y").cast("decimal(20,0)") * F.col("y")).alias("syy_g"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    mean_y = F.col("sy_g") / F.col("n_g")
    mean_x = F.col("sx_g") / F.col("n_g")
    var_y = (F.col("syy_g") - F.col("sy_g") * (F.col("sy_g") / F.col("n_g"))) / (
        F.col("n_g") - 1
    )
    cov_g = (F.col("sxy_g") - F.col("sx_g") * (F.col("sy_g") / F.col("n_g"))) / (
        F.col("n_g") - 1
    )
    var_x = (F.col("sxx_g") - F.col("sx_g") * (F.col("sx_g") / F.col("n_g"))) / (
        F.col("n_g") - 1
    )
    th = F.col("theta")
    var_adj = var_y - 2 * th * cov_g + th * th * var_x
    return (
        p.crossJoin(F.broadcast(g))
        .select(
            "grp",
            F.col("n_g").alias("n_users"),
            r4(mean_y).alias("mean_y_cents"),
            r4(mean_y - th * (mean_x - F.col("mean_x_all"))).alias(
                "mean_y_adj_cents"
            ),
            _r6(th).alias("theta"),
            _r6(F.lit(1) - var_adj / var_y).alias("var_reduction"),
        )
    )


# ---------------------------------------------------------------------------
# Log-rank test: time-to-purchase, cohort A vs B
# ---------------------------------------------------------------------------

@_register(
    "logrank_time_to_purchase_ab",
    """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS grp,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY 1, 2
    ),
    subjects AS (
      SELECT grp,
             CASE WHEN t_ev IS NOT NULL AND t_ev >= t0
                  THEN floor(epoch(t_ev) / 3600) - floor(epoch(t0) / 3600)
                  ELSE floor(epoch(t_last) / 3600) - floor(epoch(t0) / 3600)
             END AS dur_h,
             CASE WHEN t_ev IS NOT NULL AND t_ev >= t0 THEN 1 ELSE 0 END
               AS observed
      FROM per_user WHERE t0 IS NOT NULL
    ),
    n_by AS (
      SELECT CAST(count(*) FILTER (WHERE grp = 'A') AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE grp = 'B') AS BIGINT) AS nb
      FROM subjects
    ),
    at_t AS (
      SELECT dur_h AS t,
             CAST(sum(CASE WHEN grp = 'A' THEN observed ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN grp = 'B' THEN observed ELSE 0 END) AS BIGINT) AS d2,
             CAST(count(*) FILTER (WHERE grp = 'A') AS BIGINT) AS l1,
             CAST(count(*) FILTER (WHERE grp = 'B') AS BIGINT) AS l2
      FROM subjects GROUP BY 1
    ),
    risk AS (
      SELECT t, d1, d2,
             na - coalesce(sum(l1) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1t,
             nb - coalesce(sum(l2) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2t
      FROM at_t CROSS JOIN n_by
    ),
    terms AS (
      SELECT t, d1,
             (d1 + d2) * (n1t / (n1t + n2t)) AS term_e,
             CASE WHEN (n1t + n2t) > 1 THEN
               (d1 + d2) * (n1t / (n1t + n2t)) * (1 - n1t / (n1t + n2t))
               * (((n1t + n2t) - (d1 + d2)) / ((n1t + n2t) - 1))
             ELSE 0.0 END AS term_v
      FROM risk WHERE d1 + d2 > 0
    ),
    arrs AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1,
             list_reduce(list_prepend(0.0, list(term_e ORDER BY t)),
                         (a, x) -> a + x) AS e1,
             list_reduce(list_prepend(0.0, list(term_v ORDER BY t)),
                         (a, x) -> a + x) AS v
      FROM terms
    )
    SELECT na AS n_a, nb AS n_b, o1 AS observed_a,
           floor(e1 * 10000 + 0.5) / 10000.0 AS expected_a,
           floor((o1 - e1) * (o1 - e1) / v * 1000000 + 0.5) / 1000000.0
             AS chi2
    FROM arrs CROSS JOIN n_by
    """,
    "Log-rank (Mantel–Cox) test comparing time-to-purchase survival "
    "between the md5 A/B user cohorts, right-censored like the "
    "Kaplan–Meier query: per pooled event time the hypergeometric "
    "expectation d_t·n1t/nt and variance accumulate via LEFT-TO-RIGHT "
    "folds over the time-sorted term arrays, so both engines add the "
    "same exact-integer-derived doubles in the same order (the "
    "repo-standard determinism discipline for order-sensitive float "
    "sums). Only the per-user rollup touches facts; risk sets, terms "
    "and the fold are all hours-sized.",
    ("survival", "stats", "ab-testing", "events"),
)
def logrank_time_to_purchase_ab(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    grp = F.when(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1).isin(
            *"01234567"
        ),
        "A",
    ).otherwise("B")
    per_user = e.groupBy("user_id").agg(
        F.first(grp).alias("grp"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_ev"),
        F.max("ts").alias("t_last"),
    )
    observed = F.col("t_ev").isNotNull() & (F.col("t_ev") >= F.col("t0"))
    hours = lambda a, b: (  # noqa: E731
        F.floor(F.col(b).cast("timestamp").cast("long") / 3600)
        - F.floor(F.col(a).cast("timestamp").cast("long") / 3600)
    ).cast("long")
    subjects = per_user.filter(F.col("t0").isNotNull()).select(
        "grp",
        F.when(observed, hours("t0", "t_ev"))
        .otherwise(hours("t0", "t_last"))
        .alias("dur_h"),
        observed.cast("int").alias("observed"),
    )
    n_by = subjects.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("nb"),
    )
    at_t = subjects.groupBy(F.col("dur_h").alias("t")).agg(
        F.sum(F.when(F.col("grp") == "A", F.col("observed")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("grp") == "B", F.col("observed")).otherwise(0)).alias("d2"),
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("l1"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("l2"),
    )
    prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = at_t.crossJoin(F.broadcast(n_by)).select(
        "t",
        "d1",
        "d2",
        (F.col("na") - F.coalesce(F.sum("l1").over(prior), F.lit(0))).alias("n1t"),
        (F.col("nb") - F.coalesce(F.sum("l2").over(prior), F.lit(0))).alias("n2t"),
    )
    nt = F.col("n1t") + F.col("n2t")
    dt = F.col("d1") + F.col("d2")
    share = F.col("n1t") / nt
    terms = risk.filter(dt > 0).select(
        "t",
        "d1",
        (dt * share).alias("term_e"),
        F.when(
            nt > 1,
            dt * share * (1 - share) * ((nt - dt) / (nt - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("term_v"),
    )
    folded = terms.agg(
        F.sum("d1").alias("o1"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("t"), F.col("term_e").alias("v")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("e1"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("t"), F.col("term_v").alias("v")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("v"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return folded.crossJoin(F.broadcast(n_by)).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("o1").cast("long").alias("observed_a"),
        r4(F.col("e1")).alias("expected_a"),
        _r6((F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v")).alias(
            "chi2"
        ),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test: purchase conversion, cohort A vs B
# ---------------------------------------------------------------------------

@_register(
    "two_proportion_ztest_ab",
    """
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS grp,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(count(*) FILTER (WHERE grp = 'A') AS BIGINT) AS na,
             CAST(sum(conv) FILTER (WHERE grp = 'A') AS BIGINT) AS xa,
             CAST(count(*) FILTER (WHERE grp = 'B') AS BIGINT) AS nb,
             CAST(sum(conv) FILTER (WHERE grp = 'B') AS BIGINT) AS xb
      FROM u
    )
    SELECT na AS n_a, xa AS conv_a, nb AS n_b, xb AS conv_b,
           floor(xa / CAST(na AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS rate_a,
           floor(xb / CAST(nb AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS rate_b,
           CASE WHEN xa + xb > 0 AND xa + xb < na + nb THEN
             floor((xa / CAST(na AS DOUBLE) - xb / CAST(nb AS DOUBLE))
                   / sqrt(((xa + xb) / CAST(na + nb AS DOUBLE))
                          * (1 - (xa + xb) / CAST(na + nb AS DOUBLE))
                          * (1.0 / na + 1.0 / nb))
                   * 1000000 + 0.5) / 1000000.0
           END AS z_stat
    FROM g
    """,
    "Two-proportion z-test on purchase conversion between the md5 "
    "50/50 user cohorts (pooled-variance form) — the significance "
    "gate behind every conversion A/B readout, complementing the "
    "mean-based Welch/CUPED operators. One users-sized rollup "
    "(max-converted flag per user), one 4-cell integer aggregate; "
    "rates and z are pinned IEEE expressions over those integers.",
    ("stats", "ab-testing", "events"),
)
def two_proportion_ztest_ab(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    grp = F.when(
        F.substring(
            F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
        ).isin(*"01234567"),
        "A",
    ).otherwise("B")
    u = e.groupBy("user_id").agg(
        F.first(grp).alias("grp"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    g = u.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "A", F.col("conv")).otherwise(0)).alias("xa"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("grp") == "B", F.col("conv")).otherwise(0)).alias("xb"),
    )
    ra = F.col("xa") / F.col("na").cast("double")
    rb = F.col("xb") / F.col("nb").cast("double")
    pp = (F.col("xa") + F.col("xb")) / (F.col("na") + F.col("nb")).cast("double")
    x_tot = F.col("xa") + F.col("xb")
    n_tot = F.col("na") + F.col("nb")
    z = F.when(
        (x_tot > 0) & (x_tot < n_tot),
        _r6(
            (ra - rb)
            / F.sqrt(
                pp
                * (1 - pp)
                * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
            )
        ),
    )
    return g.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("xa").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("xb").cast("long").alias("conv_b"),
        _r6(ra).alias("rate_a"),
        _r6(rb).alias("rate_b"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (md5 cohorts × pre/post period)
# ---------------------------------------------------------------------------

_DID_CUT = "2024-01-16"


@_register(
    "diff_in_diff_ab_events",
    f"""
    WITH cells AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS grp,
             CASE WHEN ts < TIMESTAMP '{_DID_CUT}' THEN 'pre' ELSE 'post' END
               AS period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    w AS (
      SELECT
        max(CASE WHEN grp = 'A' AND period = 'pre'  THEN s END)
          / CAST(max(CASE WHEN grp = 'A' AND period = 'pre'  THEN n END)
                 AS DOUBLE) AS a_pre,
        max(CASE WHEN grp = 'A' AND period = 'post' THEN s END)
          / CAST(max(CASE WHEN grp = 'A' AND period = 'post' THEN n END)
                 AS DOUBLE) AS a_post,
        max(CASE WHEN grp = 'B' AND period = 'pre'  THEN s END)
          / CAST(max(CASE WHEN grp = 'B' AND period = 'pre'  THEN n END)
                 AS DOUBLE) AS b_pre,
        max(CASE WHEN grp = 'B' AND period = 'post' THEN s END)
          / CAST(max(CASE WHEN grp = 'B' AND period = 'post' THEN n END)
                 AS DOUBLE) AS b_post,
        CAST(sum(n) AS BIGINT) AS n_events
      FROM cells
    )
    SELECT n_events,
           floor(a_pre  * 10000 + 0.5) / 10000.0 AS mean_a_pre_cents,
           floor(a_post * 10000 + 0.5) / 10000.0 AS mean_a_post_cents,
           floor(b_pre  * 10000 + 0.5) / 10000.0 AS mean_b_pre_cents,
           floor(b_post * 10000 + 0.5) / 10000.0 AS mean_b_post_cents,
           floor(((a_post - a_pre) - (b_post - b_pre)) * 1000000 + 0.5)
             / 1000000.0 AS did_cents
    FROM w
    """,
    "Difference-in-differences causal estimate: md5-hashed A/B "
    "cohorts × pre/post period form a 2×2 grid of mean event values "
    "(exact integer-cent sums / counts), and the DiD effect is "
    "(ΔA) − (ΔB) — the parallel-trends estimator that complements "
    "the CUPED operator's variance reduction. ONE map-side-combined "
    "scan produces all four cells; the pivot runs on 4 rows. Every "
    "double is a pinned IEEE expression over exact integers.",
    ("stats", "ab-testing", "causal", "events"),
)
def diff_in_diff_ab_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = F.when(
        F.substring(
            F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
        ).isin(*"01234567"),
        "A",
    ).otherwise("B")
    period = F.when(
        F.col("ts") < F.lit(_DID_CUT).cast("timestamp"), "pre"
    ).otherwise("post")
    cents = F.floor(F.col("value") * 100).cast("long")
    cells = e.groupBy(grp.alias("grp"), period.alias("period")).agg(
        F.count("*").alias("n"), F.sum(cents).alias("s")
    )

    def cell(g, p):
        m = F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col("s"))
        )
        c = F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col("n"))
        )
        return m / c.cast("double")

    w = cells.agg(
        cell("A", "pre").alias("a_pre"),
        cell("A", "post").alias("a_post"),
        cell("B", "pre").alias("b_pre"),
        cell("B", "post").alias("b_post"),
        F.sum("n").alias("n_events"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return w.select(
        F.col("n_events").cast("long").alias("n_events"),
        r4(F.col("a_pre")).alias("mean_a_pre_cents"),
        r4(F.col("a_post")).alias("mean_a_post_cents"),
        r4(F.col("b_pre")).alias("mean_b_pre_cents"),
        r4(F.col("b_post")).alias("mean_b_post_cents"),
        _r6(
            (F.col("a_post") - F.col("a_pre"))
            - (F.col("b_post") - F.col("b_pre"))
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# A/B power planning: minimum detectable effect at n-per-arm grid
# ---------------------------------------------------------------------------

# z_{alpha/2}=1.959964 (two-sided 5%), z_{beta}=0.841621 (80% power)
_POWER_ZSUM = 1.959964 + 0.841621
_POWER_ARMS = (1000, 10000, 100000, 1000000)


@_register(
    "ab_power_mde_events",
    f"""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)
                      * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM events WHERE value IS NOT NULL
    ),
    v AS (
      SELECT n, s1 / CAST(n AS DOUBLE) AS mu,
             (s2 - s1 * (s1 / CAST(n AS DOUBLE))) / (n - 1) AS var
      FROM s
    ),
    grid AS (SELECT unnest([{", ".join(str(a) for a in _POWER_ARMS)}])
               AS n_per_arm)
    SELECT CAST(g.n_per_arm AS BIGINT) AS n_per_arm,
           v.n AS n_observed,
           floor(v.mu * 10000 + 0.5) / 10000.0 AS mean_cents,
           floor(sqrt(v.var) * 10000 + 0.5) / 10000.0 AS sd_cents,
           floor({_POWER_ZSUM} * sqrt(2 * v.var / g.n_per_arm)
                 * 10000 + 0.5) / 10000.0 AS mde_cents,
           floor({_POWER_ZSUM} * sqrt(2 * v.var / g.n_per_arm) / v.mu
                 * 1000000 + 0.5) / 1000000.0 AS mde_rel
    FROM grid g CROSS JOIN v
    """,
    "Experiment power planning: the minimum detectable effect at 80% "
    "power / 5% two-sided alpha for a grid of per-arm sample sizes, "
    "MDE = (z_α/2+z_β)·√(2σ²/n), using the metric's observed variance "
    "from exact integer-cent moments (one map-side-combined scan). "
    "The z constants are fixed literals so both engines evaluate the "
    "same closed form; reported absolute (cents) and relative to the "
    "observed mean. This is the pre-experiment twin of the Welch/"
    "CUPED/DiD readout operators.",
    ("stats", "ab-testing", "power", "events"),
)
def ab_power_mde_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100).cast("long")
    s = e.agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    v = s.select(
        "n",
        (F.col("s1") / F.col("n").cast("double")).alias("mu"),
        (
            (F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n").cast("double")))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    grid = F.explode(
        F.array(*[F.lit(a) for a in _POWER_ARMS])
    ).alias("n_per_arm")
    mde = F.lit(_POWER_ZSUM) * F.sqrt(2 * F.col("var") / F.col("n_per_arm"))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return (
        v.select(grid, "n", "mu", "var")
        .select(
            F.col("n_per_arm").cast("long").alias("n_per_arm"),
            F.col("n").cast("long").alias("n_observed"),
            r4(F.col("mu")).alias("mean_cents"),
            r4(F.sqrt(F.col("var"))).alias("sd_cents"),
            r4(mde).alias("mde_cents"),
            _r6(mde / F.col("mu")).alias("mde_rel"),
        )
    )


# ---------------------------------------------------------------------------
# Decile lift table for a score (n_chars predicting lang='en')
# ---------------------------------------------------------------------------

@_register(
    "lift_table_documents",
    """
    WITH base AS (
      SELECT doc_id, n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    ranked AS (
      SELECT y,
             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rk,
             count(*) OVER () AS n
      FROM base
    ),
    dec AS (
      SELECT CAST((rk - 1) * 10 // n AS INTEGER) AS decile, y, n FROM ranked
    ),
    cells AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM dec GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS nt, CAST(sum(n_pos) AS BIGINT)
               AS pt
      FROM cells
    )
    SELECT c.decile, c.n_docs, c.n_pos,
           floor(c.n_pos / CAST(c.n_docs AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS rate,
           floor((c.n_pos / CAST(c.n_docs AS DOUBLE))
                 / (t.pt / CAST(t.nt AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
             AS lift,
           floor(sum(c.n_pos) OVER (ORDER BY c.decile)
                 / CAST(t.pt AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS cum_gain
    FROM cells c CROSS JOIN tot t
    """,
    "Decile lift / cumulative-gains table for a ranking score "
    "(n_chars scoring the lang='en' target): documents rank "
    "deterministically (score desc, doc_id asc) into ten equal-count "
    "deciles by integer arithmetic, and each decile reports capture "
    "rate, lift over the base rate, and cumulative gain — the model-"
    "evaluation table every targeting/quality classifier ships with, "
    "the tabular twin of `auc_chars_predict_english`. One global "
    "rank is the oracle's formulation; the ENGINE ranks via "
    "scale.py::dense_ids — range-partitioned parallel sort + "
    "partition-offset ids, same total order, no single-task sort — "
    "then "
    "deciles-sized arithmetic over exact integer cells.",
    ("ml-eval", "stats", "documents"),
)
def lift_table_documents(spark, sf_dir):
    from ....operators.scale import dense_ids

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    # rank (n_chars DESC, doc_id ASC) WITHOUT a single-partition
    # window: negate the score and let dense_ids assign 0-based ids
    # via range-partitioned parallel sort + partition offsets
    ranked = dense_ids(
        base.withColumn("_neg", -F.col("n_chars")), "_neg", "doc_id",
        id_col="rk0",
    )
    tot_n = base.agg(F.count("*").alias("n"))
    dec = ranked.crossJoin(F.broadcast(tot_n)).select(
        F.floor(F.col("rk0") * 10 / F.col("n")).cast("int").alias("decile"),
        "y",
    )
    cells = dec.groupBy("decile").agg(
        F.count("*").alias("n_docs"), F.sum("y").alias("n_pos")
    )
    tot = cells.agg(F.sum("n_docs").alias("nt"), F.sum("n_pos").alias("pt"))
    rate = F.col("n_pos") / F.col("n_docs").cast("double")
    base_rate = F.col("pt") / F.col("nt").cast("double")
    wc = Window.orderBy("decile")
    return cells.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        _r6(rate).alias("rate"),
        _r6(rate / base_rate).alias("lift"),
        _r6(F.sum("n_pos").over(wc) / F.col("pt").cast("double")).alias(
            "cum_gain"
        ),
    )


@_register(
    "kfold_balance_documents",
    """
    WITH f AS (
      SELECT lang,
             CAST(('0x' || substr(md5('kfold-v1' || CAST(doc_id AS VARCHAR)),
                                  1, 8))::BIGINT % 5 AS INTEGER) AS fold
      FROM documents
    )
    SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_docs
    FROM f GROUP BY 1, 2
    """,
    "Deterministic 5-fold cross-validation assignment over documents "
    "(fold = md5-hash(doc_id) mod 5 via operators/sampling.py::"
    "kfold_assign — recomputable anywhere, no assignment table, keys "
    "never straddle a fold boundary) with the per-(lang, fold) "
    "balance report that validates hash uniformity. One "
    "map-side-combined aggregate",
    ("sampling", "kfold", "ml-eval", "documents"),
)
def kfold_balance_documents(spark, sf_dir):
    from ....operators.sampling import kfold_assign

    d = _t(spark, sf_dir, "documents")
    f = kfold_assign(d.select("lang", "doc_id"), "doc_id", k=5)
    return f.groupBy("lang", "fold").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# Uplift (treatment-effect difference) by user-activity segment
# ---------------------------------------------------------------------------

@_register(
    "uplift_by_segment_events",
    """
    WITH uc AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS cnt,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(cnt) AS BIGINT) AS te FROM uc),
    u AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS grp,
             -- mean-relative activity terciles in pure integers:
             -- heavy if cnt >= 1.25x mean, light if <= 0.75x mean
             CASE WHEN 4 * cnt * tot.nu >= 5 * tot.te THEN 'heavy'
                  WHEN 4 * cnt * tot.nu <= 3 * tot.te THEN 'light'
                  ELSE 'medium' END AS segment,
             conv
      FROM uc CROSS JOIN tot
    ),
    g AS (
      SELECT segment,
             CAST(count(*) FILTER (WHERE grp = 'A') AS BIGINT) AS na,
             CAST(coalesce(sum(conv) FILTER (WHERE grp = 'A'), 0) AS BIGINT) AS xa,
             CAST(count(*) FILTER (WHERE grp = 'B') AS BIGINT) AS nb,
             CAST(coalesce(sum(conv) FILTER (WHERE grp = 'B'), 0) AS BIGINT) AS xb
      FROM u GROUP BY 1
    )
    SELECT segment, na AS n_treat, xa AS conv_treat,
           nb AS n_ctrl, xb AS conv_ctrl,
           CASE WHEN na > 0 THEN
             floor(xa / CAST(na AS DOUBLE) * 1000000 + 0.5) / 1000000.0
           END AS rate_treat,
           CASE WHEN nb > 0 THEN
             floor(xb / CAST(nb AS DOUBLE) * 1000000 + 0.5) / 1000000.0
           END AS rate_ctrl,
           CASE WHEN na > 0 AND nb > 0 THEN
             floor((xa / CAST(na AS DOUBLE) - xb / CAST(nb AS DOUBLE))
                   * 1000000 + 0.5) / 1000000.0
           END AS uplift
    FROM g
    """,
    "Uplift (conditional average treatment effect) by user-activity "
    "segment: the md5 50/50 cohorts of `two_proportion_ztest_ab` "
    "become treatment/control, users stratify into light/medium/"
    "heavy activity segments, and each segment reports conversion "
    "rates and their difference — the heterogeneous-treatment-"
    "effect readout that tells you WHO the feature moved, not just "
    "whether it moved the average; segments are mean-relative integer "
    "thresholds so they exist at every SF (the T-learner counterpart of "
    "`cuped_adjusted_ab_events`'s variance reduction and "
    "`diff_in_diff_ab_events`'s time dimension). One user rollup, "
    "one 3-row segment aggregate; all counts exact integers, every "
    "division pinned.",
    ("ml-eval", "ab-test", "uplift", "events"),
)
def uplift_by_segment_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    grp = F.when(
        F.substring(
            F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
        ).isin(*"01234567"),
        F.lit("A"),
    ).otherwise(F.lit("B"))
    uc = e.groupBy("user_id").agg(
        F.count("*").alias("cnt"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    tot = uc.agg(
        F.count("*").alias("nu"), F.sum("cnt").alias("te")
    )
    u = uc.crossJoin(F.broadcast(tot)).select(
        grp.alias("grp"),
        F.when(
            4 * F.col("cnt") * F.col("nu") >= 5 * F.col("te"), "heavy"
        )
        .when(4 * F.col("cnt") * F.col("nu") <= 3 * F.col("te"), "light")
        .otherwise("medium")
        .alias("segment"),
        "conv",
    )
    isa = F.col("grp") == "A"
    g = u.groupBy("segment").agg(
        F.sum(F.when(isa, 1).otherwise(0)).alias("na"),
        F.sum(F.when(isa, F.col("conv")).otherwise(0)).alias("xa"),
        F.sum(F.when(~isa, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(~isa, F.col("conv")).otherwise(0)).alias("xb"),
    )
    ra = F.col("xa") / F.col("na").cast("double")
    rb = F.col("xb") / F.col("nb").cast("double")
    return g.select(
        "segment",
        F.col("na").cast("long").alias("n_treat"),
        F.col("xa").cast("long").alias("conv_treat"),
        F.col("nb").cast("long").alias("n_ctrl"),
        F.col("xb").cast("long").alias("conv_ctrl"),
        F.when(F.col("na") > 0, _r6(ra)).alias("rate_treat"),
        F.when(F.col("nb") > 0, _r6(rb)).alias("rate_ctrl"),
        F.when((F.col("na") > 0) & (F.col("nb") > 0), _r6(ra - rb)).alias(
            "uplift"
        ),
    )


# ---------------------------------------------------------------------------
# Quantile treatment effects: decile-by-decile A/B spend comparison
# ---------------------------------------------------------------------------

_QTE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


@_register(
    "quantile_treatment_effect_ab",
    f"""
    WITH spend AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS grp,
             CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT)
               AS spend
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    q AS (
      SELECT grp,
             {", ".join(
                 f"round(quantile_cont(spend, {q}), 4) AS q{int(q * 100)}"
                 for q in _QTE_QS)},
             CAST(count(*) AS BIGINT) AS n
      FROM spend GROUP BY 1
    )
    SELECT {", ".join(f"a.q{int(q * 100)} AS a_q{int(q * 100)}"
                      for q in _QTE_QS)},
           {", ".join(f"b.q{int(q * 100)} AS b_q{int(q * 100)}"
                      for q in _QTE_QS)},
           {", ".join(
               f"round(a.q{int(q * 100)} - b.q{int(q * 100)}, 4)"
               f" AS qte_{int(q * 100)}"
               for q in _QTE_QS)},
           a.n AS n_a, b.n AS n_b
    FROM (SELECT * FROM q WHERE grp = 'A') a
    CROSS JOIN (SELECT * FROM q WHERE grp = 'B') b
    """,
    "Quantile treatment effects for the md5 A/B cohorts: per-user "
    "purchase spend (integer ten-thousandths), EXACT interpolated "
    "percentiles at 5 quantiles per cohort, and the decile-by-"
    "decile difference — the distributional readout that catches "
    "what `two_proportion_ztest_ab` and mean-based CUPED miss: a "
    "treatment that moves the p90 while leaving the median alone. "
    "Spark's exact `percentile` aggregate and DuckDB's share the "
    "linear-interpolation definition (the oracle-proven pairing "
    "from `events_value_percentiles`). One user rollup, one 2-group "
    "aggregate.",
    ("ml-eval", "ab-test", "quantile", "events"),
)
def quantile_treatment_effect_ab(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    grp = F.when(
        F.substring(
            F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
        ).isin(*"01234567"),
        F.lit("A"),
    ).otherwise(F.lit("B"))
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 10000).cast("long")).alias(
                "spend"
            )
        )
        .select(grp.alias("grp"), "spend")
    )
    q = spend.groupBy("grp").agg(
        *[
            (F.round(F.expr(f"percentile(spend, {qq})"), 4) + F.lit(0.0)).alias(
                f"q{int(qq * 100)}"
            )
            for qq in _QTE_QS
        ],
        F.count("*").alias("n"),
    )
    a = q.filter(F.col("grp") == "A").drop("grp")
    b = q.filter(F.col("grp") == "B").drop("grp")
    a = a.select(
        *[F.col(f"q{int(qq * 100)}").alias(f"a_q{int(qq * 100)}") for qq in _QTE_QS],
        F.col("n").alias("n_a"),
    )
    b = b.select(
        *[F.col(f"q{int(qq * 100)}").alias(f"b_q{int(qq * 100)}") for qq in _QTE_QS],
        F.col("n").alias("n_b"),
    )
    out = a.crossJoin(b)
    return out.select(
        *[F.col(f"a_q{int(qq * 100)}") for qq in _QTE_QS],
        *[F.col(f"b_q{int(qq * 100)}") for qq in _QTE_QS],
        *[
            (
                F.round(
                    F.col(f"a_q{int(qq * 100)}") - F.col(f"b_q{int(qq * 100)}"),
                    4,
                )
                + F.lit(0.0)
            ).alias(f"qte_{int(qq * 100)}")
            for qq in _QTE_QS
        ],
        "n_a",
        "n_b",
    )


# ---------------------------------------------------------------------------
# Regression discontinuity at the zero account-balance cutoff
# ---------------------------------------------------------------------------

_RDD_BW = 50000  # bandwidth in balance cents around the cutoff


def _rdd_side_sql(name: str, cond: str) -> str:
    return f"""
    {name} AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM obs WHERE {cond}
    )"""


def _rdd_fit_sql(t: str) -> str:
    """intercept at x=0 from exact integer moments."""
    return (
        f"(CAST({t}.sy AS DOUBLE) * {t}.sxx - CAST({t}.sx AS DOUBLE)"
        f" * {t}.sxy) / (CAST({t}.n AS DOUBLE) * {t}.sxx"
        f" - CAST({t}.sx AS DOUBLE) * {t}.sx)"
    )


def _rdd_slope_sql(t: str) -> str:
    return (
        f"(CAST({t}.n AS DOUBLE) * {t}.sxy - CAST({t}.sx AS DOUBLE)"
        f" * {t}.sy) / (CAST({t}.n AS DOUBLE) * {t}.sxx"
        f" - CAST({t}.sx AS DOUBLE) * {t}.sx)"
    )


@_register(
    "regression_discontinuity_balance",
    f"""
    WITH ords AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS y FROM orders
      GROUP BY 1
    ),
    obs AS (
      SELECT CAST(floor(c.c_acctbal * 100) AS BIGINT) AS x,
             coalesce(o.y, 0) AS y
      FROM customer c LEFT JOIN ords o ON o.o_custkey = c.c_custkey
      WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT)
              BETWEEN -{_RDD_BW} AND {_RDD_BW}
    ),
    {_rdd_side_sql("lo", f"x < 0")},
    {_rdd_side_sql("hi", f"x >= 0")}
    SELECT lo.n AS n_left, hi.n AS n_right,
           floor(({_rdd_fit_sql("lo")}) * 1000000 + 0.5) / 1000000.0
             AS intercept_left,
           floor(({_rdd_fit_sql("hi")}) * 1000000 + 0.5) / 1000000.0
             AS intercept_right,
           floor(({_rdd_slope_sql("lo")}) * 1e12 + 0.5) / 1e12
             AS slope_left,
           floor(({_rdd_slope_sql("hi")}) * 1e12 + 0.5) / 1e12
             AS slope_right,
           floor((({_rdd_fit_sql("hi")}) - ({_rdd_fit_sql("lo")}))
                 * 1000000 + 0.5) / 1000000.0 AS rd_jump
    FROM lo CROSS JOIN hi
    """,
    "Regression discontinuity design at the zero account-balance "
    f"cutoff (bandwidth ±{_RDD_BW} cents): local linear fits of "
    "order count on balance from EXACT integer moments on each "
    "side, intercepts evaluated AT the cutoff, and the RD jump = "
    "right-intercept minus left-intercept — the causal-inference "
    "design for threshold-assigned treatments (credit lines, "
    "eligibility cliffs), completing the identification family: "
    "DiD (parallel trends), CUPED (variance reduction), uplift "
    "(heterogeneity), Shapley (credit), RDD (local randomization "
    "at a cutoff). Two 5-integer aggregates; every division "
    "pinned, slopes rounded at 1e-12 (cents-scale moments make "
    "them tiny).",
    ("stats", "causal", "customer"),
)
def regression_discontinuity_balance(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ords = o.groupBy("o_custkey").agg(F.count("*").alias("y"))
    x = F.floor(F.col("c_acctbal") * 100).cast("long")
    obs = (
        c.join(ords, c.c_custkey == ords.o_custkey, "left")
        .select(
            x.alias("x"), F.coalesce(F.col("y"), F.lit(0)).alias("y")
        )
        .filter(F.col("x").between(-_RDD_BW, _RDD_BW))
        .localCheckpoint(eager=False)
    )

    def side(cond):
        return obs.filter(cond).agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x").cast("decimal(20,0)") * F.col("y")).alias("sxy"),
            F.sum(F.col("x").cast("decimal(20,0)") * F.col("x")).alias("sxx"),
        )

    lo = side(F.col("x") < 0)
    hi = side(F.col("x") >= 0)

    def intercept(p):
        return (
            F.col(f"{p}_sy").cast("double") * F.col(f"{p}_sxx")
            - F.col(f"{p}_sx").cast("double") * F.col(f"{p}_sxy")
        ) / (
            F.col(f"{p}_n").cast("double") * F.col(f"{p}_sxx")
            - F.col(f"{p}_sx").cast("double") * F.col(f"{p}_sx")
        )

    def slope(p):
        return (
            F.col(f"{p}_n").cast("double") * F.col(f"{p}_sxy")
            - F.col(f"{p}_sx").cast("double") * F.col(f"{p}_sy")
        ) / (
            F.col(f"{p}_n").cast("double") * F.col(f"{p}_sxx")
            - F.col(f"{p}_sx").cast("double") * F.col(f"{p}_sx")
        )

    lo = lo.select(*[F.col(c0).alias(f"lo_{c0}") for c0 in lo.columns])
    hi = hi.select(*[F.col(c0).alias(f"hi_{c0}") for c0 in hi.columns])
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000.0  # noqa: E731
    r12 = lambda col: F.floor(col * 1e12 + F.lit(0.5)) / 1e12  # noqa: E731
    return lo.crossJoin(hi).select(
        F.col("lo_n").cast("long").alias("n_left"),
        F.col("hi_n").cast("long").alias("n_right"),
        r6(intercept("lo")).alias("intercept_left"),
        r6(intercept("hi")).alias("intercept_right"),
        r12(slope("lo")).alias("slope_left"),
        r12(slope("hi")).alias("slope_right"),
        r6(intercept("hi") - intercept("lo")).alias("rd_jump"),
    )


# ---------------------------------------------------------------------------
# A/A-test calibration: the null distribution of the z statistic
# ---------------------------------------------------------------------------

_AA_SALTS = [f"aa-{i}" for i in range(20)]


def _aa_z_sql(salt: str) -> str:
    g = (
        f"substr(md5('{salt}:' || CAST(user_id AS VARCHAR)), 1, 1)"
        " IN ('0','1','2','3','4','5','6','7')"
    )
    return f"""
      SELECT '{salt}' AS salt,
             CAST(count(*) FILTER (WHERE {g}) AS BIGINT) AS na,
             CAST(coalesce(sum(conv) FILTER (WHERE {g}), 0) AS BIGINT)
               AS xa,
             CAST(count(*) FILTER (WHERE NOT ({g})) AS BIGINT) AS nb,
             CAST(coalesce(sum(conv) FILTER (WHERE NOT ({g})), 0)
                  AS BIGINT) AS xb
      FROM u"""


@_register(
    "aa_test_calibration",
    f"""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1
    ),
    splits AS ({" UNION ALL ".join(_aa_z_sql(s) for s in _AA_SALTS)})
    SELECT salt, na, xa, nb, xb,
           CASE WHEN xa + xb > 0 AND xa + xb < na + nb THEN
             floor((xa / CAST(na AS DOUBLE) - xb / CAST(nb AS DOUBLE))
                   / sqrt(((xa + xb) / CAST(na + nb AS DOUBLE))
                          * (1 - (xa + xb) / CAST(na + nb AS DOUBLE))
                          * (1.0 / na + 1.0 / nb))
                   * 1000000 + 0.5) / 1000000.0
           END AS z_stat,
           CASE WHEN xa + xb > 0 AND xa + xb < na + nb THEN
             abs((xa / CAST(na AS DOUBLE) - xb / CAST(nb AS DOUBLE))
                 / sqrt(((xa + xb) / CAST(na + nb AS DOUBLE))
                        * (1 - (xa + xb) / CAST(na + nb AS DOUBLE))
                        * (1.0 / na + 1.0 / nb))) > 1.96
           END AS false_positive
    FROM splits
    """,
    "A/A-test calibration — the experiment-hygiene check every "
    "platform runs before trusting its A/B stack: the SAME "
    "two-proportion z statistic as `two_proportion_ztest_ab`, "
    "computed across 20 different seeded md5 user splits where NO "
    "effect exists by construction; roughly 1 in 20 should cross "
    "|z| > 1.96, and systematic excess means the unit of "
    "randomization or the variance formula is wrong. All 20 "
    "splits hash the user rollup in one pass per split over the "
    "same tiny user table; counts exact, divisions pinned.",
    ("ml-eval", "ab-test", "calibration", "events"),
)
def aa_test_calibration(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).localCheckpoint(eager=False)
    out = None
    for salt in _AA_SALTS:
        g = F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:"), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            1,
        ).isin(*"01234567")
        s = u.agg(
            F.sum(F.when(g, 1).otherwise(0)).alias("na"),
            F.coalesce(
                F.sum(F.when(g, F.col("conv")).otherwise(0)), F.lit(0)
            ).alias("xa"),
            F.sum(F.when(~g, 1).otherwise(0)).alias("nb"),
            F.coalesce(
                F.sum(F.when(~g, F.col("conv")).otherwise(0)), F.lit(0)
            ).alias("xb"),
        ).select(F.lit(salt).alias("salt"), "na", "xa", "nb", "xb")
        out = s if out is None else out.unionAll(s)
    pa = F.col("xa") / F.col("na").cast("double")
    pb = F.col("xb") / F.col("nb").cast("double")
    pp = (F.col("xa") + F.col("xb")) / (F.col("na") + F.col("nb")).cast(
        "double"
    )
    z = (pa - pb) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    valid = (F.col("xa") + F.col("xb") > 0) & (
        F.col("xa") + F.col("xb") < F.col("na") + F.col("nb")
    )
    return out.select(
        "salt",
        F.col("na").cast("long").alias("na"),
        F.col("xa").cast("long").alias("xa"),
        F.col("nb").cast("long").alias("nb"),
        F.col("xb").cast("long").alias("xb"),
        F.when(
            valid, F.floor(z * 1000000 + F.lit(0.5)) / 1000000.0
        ).alias("z_stat"),
        F.when(valid, F.abs(z) > 1.96).alias("false_positive"),
    )


# ---------------------------------------------------------------------------
# Stratified ATE: does a deep discount causally raise returns?
# ---------------------------------------------------------------------------


@_register(
    "stratified_ate_discount_returns",
    """
    WITH obs AS (
      SELECT o.o_orderpriority AS stratum,
             l.l_discount >= 0.05 AS treated,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    cells AS MATERIALIZED (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n_s,
             CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
               AS n_t,
             CAST(sum(CASE WHEN treated THEN y ELSE 0 END) AS BIGINT)
               AS y_t,
             CAST(sum(CASE WHEN NOT treated THEN y ELSE 0 END) AS BIGINT)
               AS y_c
      FROM obs GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM cells),
    scored AS MATERIALIZED (
      SELECT c.stratum, c.n_s, c.n_t, c.n_s - c.n_t AS n_c,
             CASE WHEN c.n_t > 0 AND c.n_s - c.n_t > 0 THEN
               floor((y_t / CAST(c.n_t AS DOUBLE)
                      - y_c / CAST(c.n_s - c.n_t AS DOUBLE))
                     * 1000000 + 0.5) / 1000000.0
             END AS stratum_effect,
             CASE WHEN c.n_t > 0 AND c.n_s - c.n_t > 0 THEN
               (c.n_s / CAST(t.n AS DOUBLE))
               * (y_t / CAST(c.n_t AS DOUBLE)
                  - y_c / CAST(c.n_s - c.n_t AS DOUBLE))
             END AS w_effect
      FROM cells c CROSS JOIN tot t
    )
    SELECT stratum, n_s, n_t, n_c, stratum_effect,
           floor((SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    list(w_effect ORDER BY stratum)), (a, b) -> a + b)
                  FROM scored WHERE w_effect IS NOT NULL)
                 * 1000000 + 0.5) / 1000000.0 AS ate
    FROM scored
    """,
    "Stratified average treatment effect for an OBSERVATIONAL "
    "treatment (deep discount >= 5%, outcome = item returned), "
    "adjusting for order-priority confounding: per stratum the "
    "treated-minus-control return-rate difference from exact "
    "counts, combined with population weights n_s/N — the "
    "back-door-adjustment estimator (equivalent to IPW with "
    "within-stratum propensities), repeated on every row with the "
    "stratum-ordered fold so the ATE column is bit-identical. "
    "Completes the causal toolkit with the no-experiment case: "
    "RCT-style (z-test/CUPED/uplift/QTE), quasi-experimental "
    "(DiD/RDD), observational (this). One fact join, 5-cell grid.",
    ("stats", "causal", "lineitem"),
)
def stratified_ate_discount_returns(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    obs = li.join(o, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("stratum"),
        (F.col("l_discount") >= 0.05).alias("treated"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cells = obs.groupBy("stratum").agg(
        F.count("*").alias("n_s"),
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("treated"), F.col("y")).otherwise(0)).alias(
            "y_t"
        ),
        F.sum(F.when(~F.col("treated"), F.col("y")).otherwise(0)).alias(
            "y_c"
        ),
    ).localCheckpoint(eager=False)
    tot = cells.agg(F.sum("n_s").alias("n"))
    n_c = F.col("n_s") - F.col("n_t")
    valid = (F.col("n_t") > 0) & (n_c > 0)
    diff = F.col("y_t") / F.col("n_t").cast("double") - F.col("y_c") / n_c.cast(
        "double"
    )
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_s",
        "n_t",
        n_c.alias("n_c"),
        F.when(
            valid, F.floor(diff * 1000000 + F.lit(0.5)) / 1000000.0
        ).alias("stratum_effect"),
        F.when(valid, (F.col("n_s") / F.col("n").cast("double")) * diff).alias(
            "w_effect"
        ),
    ).localCheckpoint(eager=False)
    ate = scored.filter(F.col("w_effect").isNotNull()).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("stratum", "w_effect"))),
            F.lit(0.0),
            lambda a, x: a + x["w_effect"],
        ).alias("ate_raw")
    ).select(
        (F.floor(F.col("ate_raw") * 1000000 + F.lit(0.5)) / 1000000.0).alias(
            "ate"
        )
    )
    return scored.select(
        "stratum", "n_s", "n_t", "n_c", "stratum_effect"
    ).crossJoin(F.broadcast(ate)).select(
        "stratum",
        F.col("n_s").cast("long").alias("n_s"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        "stratum_effect",
        "ate",
    )
