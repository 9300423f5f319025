"""Statistical tests and survival estimators: independence and
two-sample tests, rank correlations, Kaplan–Meier and Nelson–Aalen.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...core import _r4, _r6, _register, _t


# ---------------------------------------------------------------------------
# Categorical independence testing
# ---------------------------------------------------------------------------

@_register(
    "chi_square_type_daypart",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN hour(ts) < 6 THEN 'night'
                  WHEN hour(ts) < 12 THEN 'morning'
                  WHEN hour(ts) < 18 THEN 'afternoon'
                  ELSE 'evening' END AS daypart,
             CAST(count(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2
    ),
    e AS (
      SELECT *,
             sum(observed) OVER (PARTITION BY event_type) * 1.0
               * sum(observed) OVER (PARTITION BY daypart)
               / sum(observed) OVER () AS expected
      FROM cells
    )
    SELECT event_type, daypart, observed,
           round(expected, 4) AS expected,
           floor((observed - expected) * (observed - expected) / expected
                 * 1000000 + 0.5) / 1000000.0 AS chi2_contrib
    FROM e
    """,
    "Chi-square independence test of event_type × daypart: the "
    "contingency table is one fact-keyed aggregate (cells ≤ "
    "#types × 4); marginals and expected counts come from windows "
    "over that tiny table. Per-cell contributions sum to the chi² "
    "statistic; every float derives from integer counts, so both "
    "engines agree exactly. The categorical-drift sibling of the PSI "
    "monitor",
    ("agg", "stats", "quality", "events"),
)
def chi_square_type_daypart(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daypart = (
        F.when(F.hour("ts") < 6, "night")
        .when(F.hour("ts") < 12, "morning")
        .when(F.hour("ts") < 18, "afternoon")
        .otherwise("evening")
    )
    cells = e.groupBy("event_type", daypart.alias("daypart")).agg(
        F.count("*").alias("observed")
    )
    expected = (
        F.sum("observed").over(Window.partitionBy("event_type")) * F.lit(1.0)
        * F.sum("observed").over(Window.partitionBy("daypart"))
        / F.sum("observed").over(Window.partitionBy())
    )
    ce = cells.withColumn("expected_raw", expected)
    diff = F.col("observed") - F.col("expected_raw")
    return ce.select(
        "event_type",
        "daypart",
        "observed",
        F.round("expected_raw", 4).alias("expected"),
        _r6(diff * diff / F.col("expected_raw")).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# Two-sample distribution testing (exact KS)
# ---------------------------------------------------------------------------

@_register(
    "ks_statistic_value_by_type",
    """
    WITH vals AS (
      SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    base AS (SELECT value, c AS c_v FROM vals WHERE event_type = 'view'),
    others AS (
      SELECT event_type, value, c AS c_t FROM vals WHERE event_type <> 'view'
    ),
    types AS (SELECT DISTINCT event_type FROM others),
    merged AS (
      SELECT event_type, value, c_t, CAST(0 AS BIGINT) AS c_v FROM others
      UNION ALL
      SELECT t.event_type, b.value, CAST(0 AS BIGINT), b.c_v
      FROM types t CROSS JOIN base b
    ),
    grouped AS (
      SELECT event_type, value,
             CAST(sum(c_t) AS BIGINT) AS c_t,
             CAST(sum(c_v) AS BIGINT) AS c_v
      FROM merged GROUP BY 1, 2
    ),
    cums AS (
      SELECT event_type,
             sum(c_t) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
             sum(c_v) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v,
             sum(c_t) OVER (PARTITION BY event_type) AS n_t,
             sum(c_v) OVER (PARTITION BY event_type) AS n_v
      FROM grouped
    )
    SELECT event_type,
           CAST(max(n_t) AS BIGINT) AS n_sample,
           CAST(max(n_v) AS BIGINT) AS n_baseline,
           floor(max(abs(cum_t * 1.0 / n_t - cum_v * 1.0 / n_v))
                 * 1000000 + 0.5) / 1000000.0 AS ks_stat
    FROM cums GROUP BY 1
    """,
    "Exact two-sample Kolmogorov-Smirnov statistic of each event "
    "type's value distribution against the 'view' baseline: samples "
    "collapse to per-(type, value) counts first (the windowed ECDF "
    "pass runs over distinct values, not raw rows), the baseline "
    "replicates once per comparison type, and D = max |ECDF gap| "
    "falls out of one partitioned window. Integer counts → identical "
    "doubles in both engines. The exact-test sibling of the binned "
    "PSI monitor",
    ("stats", "window", "quality", "events"),
)
def ks_statistic_value_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    vals = e.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    base = vals.filter(F.col("event_type") == "view").select(
        "value", F.col("c").alias("c_v")
    )
    others = vals.filter(F.col("event_type") != "view").select(
        "event_type", "value", F.col("c").alias("c_t")
    )
    types = others.select("event_type").distinct()
    merged = others.withColumn("c_v", F.lit(0).cast("long")).unionByName(
        F.broadcast(types)
        .crossJoin(base)
        .select("event_type", "value", F.lit(0).cast("long").alias("c_t"), "c_v")
    )
    grouped = merged.groupBy("event_type", "value").agg(
        F.sum("c_t").alias("c_t"), F.sum("c_v").alias("c_v")
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part = Window.partitionBy("event_type")
    cums = grouped.select(
        "event_type",
        F.sum("c_t").over(run).alias("cum_t"),
        F.sum("c_v").over(run).alias("cum_v"),
        F.sum("c_t").over(part).alias("n_t"),
        F.sum("c_v").over(part).alias("n_v"),
    )
    gap = F.abs(
        F.col("cum_t") * F.lit(1.0) / F.col("n_t")
        - F.col("cum_v") * F.lit(1.0) / F.col("n_v")
    )
    return cums.groupBy("event_type").agg(
        F.max("n_t").cast("long").alias("n_sample"),
        F.max("n_v").cast("long").alias("n_baseline"),
        _r6(F.max(gap)).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix (profiling)
# ---------------------------------------------------------------------------

@_register(
    "correlation_matrix_lineitem",
    """
    SELECT x, y, round(r, 4) AS corr FROM (
      SELECT 'l_quantity' AS x, 'l_extendedprice' AS y,
             corr(l_quantity, l_extendedprice) AS r FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount)
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_tax', corr(l_quantity, l_tax) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount',
             corr(l_extendedprice, l_discount) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax', corr(l_extendedprice, l_tax)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', 'l_tax', corr(l_discount, l_tax) FROM lineitem
    )
    """,
    "Pairwise Pearson correlation matrix over the four lineitem "
    "measures — the feature-redundancy screen of a profiling pass. "
    "All six pairs compute in ONE scan via a single multi-aggregate "
    "(Spark side), vs the oracle's six-scan UNION spelling; corr's "
    "partial-state merge (co-moment form) is the same "
    "order-tolerant-to-4dp contract the regression census already "
    "established",
    ("stats", "profiling", "agg", "lineitem"),
)
def correlation_matrix_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    wide = li.agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"{a}|{b}")
            for a, b in pairs
        ]
    )
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("x"),
                        F.lit(b).alias("y"),
                        F.col(f"`{a}|{b}`").alias("corr"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.x", "s.y", "s.corr")


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

@_register(
    "theil_sen_trend_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('day', o_orderdate)) / 86400 AS BIGINT)
               AS d,
             CAST(floor(round(sum(o_totalprice), 4) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.cents - a.cents) * 1.0 / ((b.d - a.d) * 100.0) AS slope
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    arr AS (
      SELECT list(slope ORDER BY slope) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM slopes
    )
    SELECT n AS n_pairs,
           floor(s[CAST(ceil(n * 0.5) AS BIGINT)] * 1000000 + 0.5)
             / 1000000.0 AS theil_sen_slope,
           floor(s[CAST(ceil(n * 0.05) AS BIGINT)] * 1000000 + 0.5)
             / 1000000.0 AS slope_p05,
           floor(s[CAST(ceil(n * 0.95) AS BIGINT)] * 1000000 + 0.5)
             / 1000000.0 AS slope_p95
    FROM arr
    """,
    "Theil–Sen robust trend of daily revenue: the median (and 5/95 "
    "band) of all pairwise day-to-day slopes — outlier-resistant "
    "where OLS is not. Daily revenue converts to integer cents, so "
    "each of the ~n²/2 slopes is one exact integer ratio; the "
    "pairwise self-join runs over the #days-sized rollup (150 days "
    "→ 11k pairs) regardless of fact size, and the order statistic "
    "comes from a sorted-array index, not a global sort of data",
    ("timeseries", "stats", "robust", "orders"),
)
def theil_sen_trend_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.unix_timestamp(F.date_trunc("day", "o_orderdate")) / 86400)
        .cast("long")
        .alias("d")
    ).agg(
        F.floor(F.round(F.sum("o_totalprice"), 4) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    # the non-equi self-join evaluates its input ONCE PER SIDE — the
    # orders scan+rollup ran twice (r9 profile: a 2-task 1.4 s job,
    # both sides' single-effective-task scans back to back);
    # checkpointing the ~#days-row rollup makes it one scan
    ).localCheckpoint(eager=False)
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("b.d") > F.col("a.d")).select(
        (
            (F.col("b.cents") - F.col("a.cents"))
            * F.lit(1.0)
            / ((F.col("b.d") - F.col("a.d")) * F.lit(100.0))
        ).alias("slope")
    )
    arr = slopes.agg(
        F.sort_array(F.collect_list("slope")).alias("s"),
        F.count("*").alias("n"),
    )
    pick = lambda p: _r6(  # noqa: E731
        F.element_at("s", F.ceil(F.col("n") * p).cast("int"))
    )
    return arr.select(
        F.col("n").alias("n_pairs"),
        pick(0.5).alias("theil_sen_slope"),
        pick(0.05).alias("slope_p05"),
        pick(0.95).alias("slope_p95"),
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival estimator (time-to-purchase with censoring)
# ---------------------------------------------------------------------------

@_register(
    "kaplan_meier_time_to_purchase",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_ev,
             max(ts) AS t_last
      FROM events GROUP BY user_id
    ),
    subjects AS (
      SELECT user_id,
             CASE WHEN t_ev IS NOT NULL AND t_ev >= t0
                  THEN CAST(date_diff('hour', t0, t_ev) AS BIGINT)
                  ELSE CAST(date_diff('hour', t0, t_last) AS BIGINT)
             END AS dur_h,
             CASE WHEN t_ev IS NOT NULL AND t_ev >= t0 THEN 1 ELSE 0 END
               AS observed
      FROM per_user WHERE t0 IS NOT NULL
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM subjects),
    at_t AS (
      SELECT dur_h AS t,
             CAST(sum(observed) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM subjects GROUP BY 1
    ),
    risk AS (
      SELECT t, d,
             n - coalesce(sum(leaving) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM at_t CROSS JOIN tot
    ),
    ev AS (SELECT t, d, n_risk FROM risk WHERE d > 0),
    arrs AS (
      SELECT list(t ORDER BY t) AS ts_,
             list(d ORDER BY t) AS ds,
             list(n_risk ORDER BY t) AS ns,
             CAST(count(*) AS BIGINT) AS k
      FROM ev
    )
    SELECT unnest(list_transform(range(1, k + 1), i -> ts_[i])) AS t_hours,
           unnest(list_transform(range(1, k + 1), i -> ns[i])) AS n_risk,
           unnest(list_transform(range(1, k + 1), i -> ds[i])) AS n_events,
           unnest(list_transform(range(1, k + 1),
             i -> floor(exp(list_reduce(
                    list_transform(range(1, i + 1),
                      j -> ln(1.0 - ds[j] * 1.0 / ns[j])),
                    (a, x) -> a + x)) * 1000000 + 0.5) / 1000000.0))
             AS survival
    FROM arrs
    """,
    "Kaplan–Meier survival curve for time-to-purchase with RIGHT "
    "CENSORING (users who never purchase contribute risk time up to "
    "their last activity — dropping them would bias conversion "
    "optimistically): per-user durations from one aggregate, risk "
    "sets from integer cumulative counts over the hours-sized event "
    "grid, and S(t) = Π(1 − dᵢ/nᵢ) evaluated as left-to-right "
    "ln-folds over the sorted event times so both engines multiply "
    "identical exact ratios in identical order. The duration rollup "
    "is the only fact-sized shuffle",
    ("survival", "stats", "timeseries", "events"),
)
def kaplan_meier_time_to_purchase(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_ev"
        ),
        F.max("ts").alias("t_last"),
    )
    observed = F.col("t_ev").isNotNull() & (F.col("t_ev") >= F.col("t0"))
    # date_diff('hour') counts HOUR-BOUNDARY crossings, not elapsed
    # hours: floor each endpoint to its hour first, then subtract
    hours = lambda a, b: (  # noqa: E731
        F.floor(F.col(b).cast("timestamp").cast("long") / 3600)
        - F.floor(F.col(a).cast("timestamp").cast("long") / 3600)
    ).cast("long")
    subjects = per_user.filter(F.col("t0").isNotNull()).select(
        F.when(observed, hours("t0", "t_ev"))
        .otherwise(hours("t0", "t_last"))
        .alias("dur_h"),
        observed.cast("int").alias("observed"),
    )
    tot = subjects.agg(F.count("*").alias("n"))
    at_t = subjects.groupBy(F.col("dur_h").alias("t")).agg(
        F.sum("observed").alias("d"), F.count("*").alias("leaving")
    )
    prior = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = at_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("leaving").over(prior), F.lit(0))
        ).alias("n_risk"),
    )
    ev = risk.filter(F.col("d") > 0)
    arrs = ev.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "d", "n_risk"))),
            lambda s: s["t"],
        ).alias("ts_"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "d", "n_risk"))),
            lambda s: s["d"],
        ).alias("ds"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "d", "n_risk"))),
            lambda s: s["n_risk"],
        ).alias("ns"),
        F.count("*").alias("k"),
    )
    idx = F.explode(F.sequence(F.lit(1), F.col("k").cast("int"))).alias("i")
    rows = arrs.select("ts_", "ds", "ns", idx)
    lnterm = lambda j: F.log(  # noqa: E731
        1.0 - F.element_at(F.col("ds"), j) * F.lit(1.0) / F.element_at(F.col("ns"), j)
    )
    surv = F.exp(
        F.aggregate(
            F.transform(F.sequence(F.lit(1), F.col("i")), lnterm),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return rows.select(
        F.element_at("ts_", F.col("i")).alias("t_hours"),
        F.element_at("ns", F.col("i")).alias("n_risk"),
        F.element_at("ds", F.col("i")).alias("n_events"),
        _r6(surv).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test per event type vs the 'view' control
# ---------------------------------------------------------------------------

@_register(
    "welch_ttest_value_by_type",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)
                      * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM events
      WHERE value IS NOT NULL
      GROUP BY 1
    ),
    m AS (
      SELECT event_type, n, s1, s2,
             s1 / n AS mu,
             (s2 - s1 * (s1 / n)) / (n - 1) AS var
      FROM s WHERE n > 1
    )
    SELECT t.event_type AS event_type,
           CAST(t.n AS BIGINT) AS n_obs,
           CAST(c.n AS BIGINT) AS n_ctrl,
           floor((t.mu - c.mu) * 1000000 + 0.5) / 1000000.0 AS mean_diff_cents,
           floor((t.mu - c.mu) / sqrt(t.var / t.n + c.var / c.n)
                 * 1000000 + 0.5) / 1000000.0 AS t_stat,
           floor((t.var / t.n + c.var / c.n) * (t.var / t.n + c.var / c.n)
                 / ((t.var / t.n) * (t.var / t.n) / (t.n - 1)
                    + (c.var / c.n) * (c.var / c.n) / (c.n - 1))
                 * 10000 + 0.5) / 10000.0 AS welch_df
    FROM m t JOIN m c ON c.event_type = 'view'
    WHERE t.event_type <> 'view'
    """,
    "Welch two-sample t-test (unequal variances) of each event type's "
    "value against the 'view' control: mean, variance, t statistic "
    "and Welch-Satterthwaite df — all derived from EXACT integer-cent "
    "sums (n, sum, sum-of-squares) collected in ONE map-side-combined "
    "scan, then a broadcast of the types-sized stats table against "
    "its control row. Cross-engine bit-equality holds because every "
    "double is produced by the same IEEE expression over the same "
    "integers. (Note: sum-of-squares in BIGINT is exact to ~2^63; at "
    "larger scales the same plan runs on DECIMAL(38,0).)",
    ("stats", "agg", "events"),
)
def welch_ttest_value_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100).cast("long")
    s = (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("s1"),
            F.sum(cents * cents).alias("s2"),
        )
        .filter(F.col("n") > 1)
        .withColumn("mu", F.col("s1") / F.col("n"))
        .withColumn(
            "var",
            (F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n")))
            / (F.col("n") - 1),
        )
    )
    t = s.filter(F.col("event_type") != "view")
    c = s.filter(F.col("event_type") == "view").select(
        F.col("n").alias("cn"), F.col("mu").alias("cmu"), F.col("var").alias("cvar")
    )
    se2 = F.col("var") / F.col("n") + F.col("cvar") / F.col("cn")
    df_num = se2 * se2
    df_den = (F.col("var") / F.col("n")) * (F.col("var") / F.col("n")) / (
        F.col("n") - 1
    ) + (F.col("cvar") / F.col("cn")) * (F.col("cvar") / F.col("cn")) / (
        F.col("cn") - 1
    )
    return (
        t.crossJoin(F.broadcast(c))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_obs"),
            F.col("cn").cast("long").alias("n_ctrl"),
            _r6(F.col("mu") - F.col("cmu")).alias("mean_diff_cents"),
            _r6((F.col("mu") - F.col("cmu")) / F.sqrt(se2)).alias("t_stat"),
            (F.floor(df_num / df_den * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias(
                "welch_df"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test over daily revenue
# ---------------------------------------------------------------------------

@_register(
    "mann_kendall_trend_daily",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev)
      WHERE t > 1
    )
    SELECT n_days, s_stat,
           floor((n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) / 18.0
                 * 10000 + 0.5) / 10000.0 AS var_s,
           floor(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                        / sqrt((n_days * (n_days - 1) * (2 * n_days + 5)
                                - tie_term) / 18.0)
                      WHEN s_stat < 0 THEN (s_stat + 1)
                        / sqrt((n_days * (n_days - 1) * (2 * n_days + 5)
                                - tie_term) / 18.0)
                      ELSE 0.0 END * 1000000 + 0.5) / 1000000.0 AS z_stat
    FROM s CROSS JOIN n CROSS JOIN ties
    """,
    "Mann–Kendall non-parametric trend test on the daily revenue "
    "series: S = Σ sign(x_j − x_i) over all i<j day pairs, "
    "tie-corrected variance n(n−1)(2n+5)/18 − Σt(t−1)(2t+5)/18, and "
    "the continuity-corrected z score. One fact-sized rollup to the "
    "days-sized series; the O(days²) pair join and the tie census run "
    "on days, never facts (2,400 days → 5.8M integer sign pairs, a "
    "sub-second join at any fact scale). S and the tie term are exact "
    "integer sums, so z is a single pinned IEEE expression.",
    ("stats", "timeseries", "trend", "orders"),
)
def mann_kendall_trend_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("rev")
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    n = daily.agg(F.count("*").alias("n_days"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    var_s = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    ) / F.lit(18.0)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("s_stat").cast("long").alias("s_stat"),
            _r4(var_s).alias("var_s"),
            _r6(z).alias("z_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between the daily revenue and daily order-count series
# ---------------------------------------------------------------------------

@_register(
    "kendall_tau_daily_metrics",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN (b.rev - a.rev) * (b.cnt - a.cnt) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN (b.rev - a.rev) * (b.cnt - a.cnt) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN b.rev = a.rev AND b.cnt <> a.cnt
                           THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(sum(CASE WHEN b.cnt = a.cnt AND b.rev <> a.rev
                           THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM daily a JOIN daily b ON a.day < b.day
    )
    SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
           floor((c - d) / sqrt(CAST((c + d + tx) AS DOUBLE)
                                * CAST((c + d + ty) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS tau_b
    FROM pairs
    """,
    "Kendall τ-b rank correlation between the daily revenue and "
    "daily order-count series: concordant/discordant/tied pair "
    "counts over all day pairs (exact integers from one O(days²) "
    "join AFTER the fact rollup — ~2,400 days at any fact scale), "
    "tie-adjusted denominator per the τ-b definition. The "
    "non-parametric cousin of `correlation_matrix_lineitem`'s "
    "Pearson r and the two-series companion of "
    "`mann_kendall_trend_daily` (which is τ against time itself).",
    ("stats", "correlation", "orders"),
)
def kendall_tau_daily_metrics(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev"),
        F.count("*").alias("cnt"),
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("rev").alias("ra"), F.col("cnt").alias("ca")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("rev").alias("rb"), F.col("cnt").alias("cb")
    )
    prod = (F.col("rb") - F.col("ra")) * (F.col("cb") - F.col("ca"))
    pairs = a.join(b, F.col("da") < F.col("db")).agg(
        F.count("*").alias("n0"),
        F.sum(F.when(prod > 0, 1).otherwise(0)).alias("c"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).alias("d"),
        F.sum(
            F.when(
                (F.col("rb") == F.col("ra")) & (F.col("cb") != F.col("ca")), 1
            ).otherwise(0)
        ).alias("tx"),
        F.sum(
            F.when(
                (F.col("cb") == F.col("ca")) & (F.col("rb") != F.col("ra")), 1
            ).otherwise(0)
        ).alias("ty"),
    )
    tau = (F.col("c") - F.col("d")) / F.sqrt(
        (F.col("c") + F.col("d") + F.col("tx")).cast("double")
        * (F.col("c") + F.col("d") + F.col("ty")).cast("double")
    )
    return pairs.select(
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        _r6(tau).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# G-test (log-likelihood ratio) of event_type × daypart independence
# ---------------------------------------------------------------------------

@_register(
    "g_test_type_daypart",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'morning'
                  WHEN hour(ts) BETWEEN 12 AND 17 THEN 'afternoon'
                  WHEN hour(ts) BETWEEN 18 AND 23 THEN 'evening'
                  ELSE 'night' END AS daypart,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
              FROM cells GROUP BY 1),
    cols_ AS (SELECT daypart, CAST(sum(o) AS BIGINT) AS ct
              FROM cells GROUP BY 1),
    n_ AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT c.event_type, c.daypart, c.o,
             c.o * ln(c.o / (r.rt * (col.ct / CAST(x.n AS DOUBLE)))) AS term
      FROM cells c
      JOIN rows_ r USING (event_type)
      JOIN cols_ col USING (daypart)
      CROSS JOIN n_ x
    )
    SELECT CAST(count(*) AS INTEGER) AS n_cells,
           floor(2 * list_reduce(
                   list_prepend(0.0,
                     list(term ORDER BY event_type, daypart)),
                   (a, x) -> a + x) * 1000000 + 0.5) / 1000000.0 AS g_stat
    FROM terms
    """,
    "G-test (likelihood-ratio) of independence for the event_type × "
    "daypart contingency table: G = 2·Σ O·ln(O/E) with E from exact "
    "integer row/column/grand totals — the additive-decomposable "
    "companion to `chi_square_type_daypart` (G-values of subtables "
    "sum; χ² does not). The ≤20 cell terms fold in (type, daypart) "
    "order so both engines add identical doubles identically. One "
    "map-side-combined scan; everything after is cells-sized.",
    ("stats", "independence", "events"),
)
def g_test_type_daypart(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    h = F.hour(F.col("ts"))
    daypart = (
        F.when(h.between(6, 11), "morning")
        .when(h.between(12, 17), "afternoon")
        .when(h.between(18, 23), "evening")
        .otherwise("night")
    )
    cells = e.groupBy("event_type", daypart.alias("daypart")).agg(
        F.count("*").alias("o")
    )
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("daypart").agg(F.sum("o").alias("ct"))
    n_ = cells.agg(F.sum("o").alias("n"))
    term = F.col("o") * F.log(
        F.col("o")
        / (F.col("rt") * (F.col("ct") / F.col("n").cast("double")))
    )
    terms = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "daypart")
        .crossJoin(F.broadcast(n_))
        .withColumn("term", term)
    )
    folded = terms.agg(
        F.count("*").cast("int").alias("n_cells"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("event_type"),
                        F.col("daypart"),
                        F.col("term").alias("v"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("s"),
    )
    return folded.select(
        "n_cells", _r6(F.lit(2) * F.col("s")).alias("g_stat")
    )


# ---------------------------------------------------------------------------
# Cramér's V effect size for event_type × daypart
# ---------------------------------------------------------------------------

@_register(
    "cramers_v_type_daypart",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'morning'
                  WHEN hour(ts) BETWEEN 12 AND 17 THEN 'afternoon'
                  WHEN hour(ts) BETWEEN 18 AND 23 THEN 'evening'
                  ELSE 'night' END AS daypart,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
              FROM cells GROUP BY 1),
    cols_ AS (SELECT daypart, CAST(sum(o) AS BIGINT) AS ct
              FROM cells GROUP BY 1),
    n_ AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST((SELECT count(*) FROM rows_) AS BIGINT) AS r,
                  CAST((SELECT count(*) FROM cols_) AS BIGINT) AS c
           FROM cells),
    terms AS (
      SELECT c.event_type, c.daypart,
             (c.o - r.rt * (col.ct / CAST(x.n AS DOUBLE)))
             * (c.o - r.rt * (col.ct / CAST(x.n AS DOUBLE)))
             / (r.rt * (col.ct / CAST(x.n AS DOUBLE))) AS term
      FROM cells c
      JOIN rows_ r USING (event_type)
      JOIN cols_ col USING (daypart)
      CROSS JOIN n_ x
    ),
    chi AS (
      SELECT list_reduce(list_prepend(0.0,
               list(term ORDER BY event_type, daypart)), (a, x) -> a + x)
               AS chi2
      FROM terms
    )
    SELECT x.n AS n_events, x.r AS n_rows, x.c AS n_cols,
           floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
           floor(sqrt(chi2 / (x.n * (least(x.r, x.c) - 1)))
                 * 1000000 + 0.5) / 1000000.0 AS cramers_v
    FROM chi CROSS JOIN n_ x
    """,
    "Cramér's V effect size for the event_type × daypart "
    "association: χ² from cell-ordered folds over exact-integer-"
    "derived terms (same contingency as the chi-square and G-test "
    "operators), normalized by n·(min(r,c)−1) so the strength is "
    "comparable across tables of any shape — the 'is it LARGE, not "
    "just significant' companion the pure test statistics lack. One "
    "map-side-combined scan; cells-sized arithmetic after.",
    ("stats", "independence", "events"),
)
def cramers_v_type_daypart(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    h = F.hour(F.col("ts"))
    daypart = (
        F.when(h.between(6, 11), "morning")
        .when(h.between(12, 17), "afternoon")
        .when(h.between(18, 23), "evening")
        .otherwise("night")
    )
    cells = e.groupBy("event_type", daypart.alias("daypart")).agg(
        F.count("*").alias("o")
    )
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("daypart").agg(F.sum("o").alias("ct"))
    n_ = cells.agg(F.sum("o").alias("n")).crossJoin(
        rows_.agg(F.count("*").alias("r"))
    ).crossJoin(cols_.agg(F.count("*").alias("c")))
    exp = F.col("rt") * (F.col("ct") / F.col("n").cast("double"))
    term = (F.col("o") - exp) * (F.col("o") - exp) / exp
    terms = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "daypart")
        .crossJoin(F.broadcast(n_))
        .withColumn("term", term)
    )
    chi = terms.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("event_type"),
                        F.col("daypart"),
                        F.col("term").alias("v"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("chi2")
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    v = F.sqrt(
        F.col("chi2")
        / (F.col("n") * (F.least(F.col("r"), F.col("c")) - 1))
    )
    return chi.crossJoin(F.broadcast(n_)).select(
        F.col("n").cast("long").alias("n_events"),
        F.col("r").cast("long").alias("n_rows"),
        F.col("c").cast("long").alias("n_cols"),
        r4(F.col("chi2")).alias("chi2"),
        _r6(v).alias("cramers_v"),
    )


_KM_HORIZONS = (1, 6, 12, 24, 48, 96, 168)


@_register(
    "kaplan_meier_conversion",
    f"""
    WITH u AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             max(ts) AS tmax
      FROM events GROUP BY 1
    ),
    obs AS (
      SELECT user_id,
             tp IS NOT NULL AS d,
             CASE WHEN tp IS NOT NULL
                  THEN date_diff('second', t0, tp) // 3600
                  ELSE date_diff('second', t0, tmax) // 3600 END AS tobs
      FROM u
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
    at_t AS (SELECT tobs AS t, CAST(count(*) AS BIGINT) AS c
             FROM obs GROUP BY 1),
    cum AS (
      SELECT t, c,
             CAST(coalesce(sum(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS less_t
      FROM at_t
    ),
    deaths AS (
      SELECT tobs AS t, CAST(count(*) AS BIGINT) AS dd
      FROM obs WHERE d GROUP BY 1
    ),
    terms AS (
      SELECT de.t, de.dd,
             1.0::DOUBLE - CAST(de.dd AS DOUBLE) / (nn.n - cu.less_t)
               AS term
      FROM deaths de
      JOIN cum cu ON cu.t = de.t
      CROSS JOIN nn
    ),
    hz AS (SELECT unnest([{", ".join(str(h) for h in _KM_HORIZONS)}])
             AS horizon_hours)
    SELECT CAST(hz.horizon_hours AS BIGINT) AS horizon_hours,
           nn.n AS n_users,
           CAST(coalesce((SELECT sum(t2.dd) FROM terms t2
                          WHERE t2.t <= hz.horizon_hours), 0) AS BIGINT)
             AS n_converted_by_h,
           floor(coalesce((SELECT list_reduce(list_prepend(1.0::DOUBLE,
                    list(t3.term ORDER BY t3.t)), (a, b) -> a * b)
                  FROM terms t3 WHERE t3.t <= hz.horizon_hours), 1.0)
                 * 1000000 + 0.5) / 1000000.0 AS survival
    FROM hz CROSS JOIN nn
    """,
    "Kaplan–Meier time-to-first-purchase curve: per user, hours from "
    "first event to first purchase (event) or to last activity "
    "(right-censored); S(h) = Π over conversion hours ≤ h of "
    "(1 − d_i/n_i) with the standard at-risk convention, evaluated "
    "at 7 fixed horizons. Every d_i/n_i is an exact integer ratio "
    "and each product folds in event-time order (F.aggregate ≡ "
    "list_reduce), so the curve bit-matches DuckDB. The survival "
    "companion to the logrank A/B test and conversion-CDF "
    "operators; plan: one user rollup, then hour-grained "
    "(constant-bounded) arithmetic",
    ("stats", "survival", "retention", "events"),
)
def kaplan_meier_conversion(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "tp"
        ),
        F.max("ts").alias("tmax"),
    )
    obs = u.select(
        F.col("tp").isNotNull().alias("d"),
        F.when(
            F.col("tp").isNotNull(),
            F.expr(
                "(CAST(CAST(tp AS TIMESTAMP) AS LONG)"
                " - CAST(CAST(t0 AS TIMESTAMP) AS LONG)) div 3600"
            ),
        )
        .otherwise(
            F.expr(
                "(CAST(CAST(tmax AS TIMESTAMP) AS LONG)"
                " - CAST(CAST(t0 AS TIMESTAMP) AS LONG)) div 3600"
            )
        )
        .alias("tobs"),
    ).localCheckpoint(eager=False)
    nn = obs.agg(F.count("*").alias("n"))
    at_t = obs.groupBy(F.col("tobs").alias("t")).agg(F.count("*").alias("c"))
    # hour-grained table: cardinality bounded by the corpus time span
    # in hours, never by rows — the window here is constant-sized
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cum = at_t.select(
        "t", F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("less_t")
    )
    deaths = (
        obs.filter("d").groupBy(F.col("tobs").alias("t")).agg(
            F.count("*").alias("dd")
        )
    )
    terms = (
        deaths.join(cum, "t")
        .crossJoin(F.broadcast(nn))
        .select(
            "t",
            "dd",
            (
                F.lit(1.0)
                - F.col("dd").cast("double") / (F.col("n") - F.col("less_t"))
            ).alias("term"),
        )
    )
    hz = spark.createDataFrame(
        [(h,) for h in _KM_HORIZONS], "horizon_hours long"
    )
    joined = hz.join(
        terms, terms.t <= hz.horizon_hours, "left"
    ).groupBy("horizon_hours").agg(
        F.sum("dd").alias("n_conv"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("t").isNotNull(),
                        F.struct("t", "term"),
                    )
                )
            ),
            F.lit(1.0),
            lambda a, x: a * x["term"],
        ).alias("surv"),
    )
    return joined.crossJoin(F.broadcast(nn)).select(
        "horizon_hours",
        F.col("n").cast("long").alias("n_users"),
        F.coalesce(F.col("n_conv"), F.lit(0)).cast("long").alias(
            "n_converted_by_h"
        ),
        _r6(F.coalesce(F.col("surv"), F.lit(1.0))).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation between daily revenue and daily order count
# ---------------------------------------------------------------------------

@_register(
    "spearman_rho_daily_metrics",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT 2 * rank() OVER (ORDER BY rev)
               + count(*) OVER (PARTITION BY rev) - 1 AS rx,
             2 * rank() OVER (ORDER BY cnt)
               + count(*) OVER (PARTITION BY cnt) - 1 AS ry
      FROM daily
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy
      FROM ranked
    )
    SELECT n AS n_days,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE) = 0.0 THEN NULL
                ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE))
                           * 1000000 + 0.5) / 1000000.0
           END AS rho_spearman
    FROM m
    """,
    "Spearman rank correlation between the daily revenue and daily "
    "order-count series: tie-correct average ranks (doubled so they "
    "stay exact integers), then Pearson on ranks from pure integer "
    "moments — bit-identical across engines, no float accumulation "
    "order anywhere. The rank windows run on the days-sized rollup "
    "(~2,400 rows at ANY fact scale), so the global sort the raw "
    "table could never afford is a no-op here. Completes the "
    "correlation family next to Kendall tau-b "
    "(`kendall_tau_daily_metrics`, O(days^2) pair counts) and "
    "Pearson (`correlation_matrix_lineitem`).",
    ("stats", "correlation", "orders"),
)
def spearman_rho_daily_metrics(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev"),
        F.count("*").alias("cnt"),
    )
    rx = (
        2 * F.rank().over(Window.orderBy("rev"))
        + F.count("*").over(Window.partitionBy("rev"))
        - 1
    )
    ry = (
        2 * F.rank().over(Window.orderBy("cnt"))
        + F.count("*").over(Window.partitionBy("cnt"))
        - 1
    )
    ranked = daily.select(rx.cast("long").alias("rx"), ry.cast("long").alias("ry"))
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").alias("n_days"),
        F.when(varx * vary == 0.0, F.lit(None).cast("double"))
        .otherwise(_r6(cov / F.sqrt(varx * vary)))
        .alias("rho_spearman"),
    )


# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard of time-to-first-purchase
# ---------------------------------------------------------------------------

_NA_HORIZONS = (1, 6, 12, 24, 48, 96, 168)


@_register(
    "nelson_aalen_hazard",
    f"""
    WITH u AS (
      SELECT user_id,
             min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
             max(ts) AS tmax
      FROM events GROUP BY 1
    ),
    obs AS (
      SELECT user_id,
             tp IS NOT NULL AS d,
             CASE WHEN tp IS NOT NULL
                  THEN date_diff('second', t0, tp) // 3600
                  ELSE date_diff('second', t0, tmax) // 3600 END AS tobs
      FROM u
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
    at_t AS (SELECT tobs AS t, CAST(count(*) AS BIGINT) AS c
             FROM obs GROUP BY 1),
    cum AS (
      SELECT t, c,
             CAST(coalesce(sum(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS less_t
      FROM at_t
    ),
    deaths AS (
      SELECT tobs AS t, CAST(count(*) AS BIGINT) AS dd
      FROM obs WHERE d GROUP BY 1
    ),
    terms AS MATERIALIZED (
      SELECT de.t, de.dd,
             CAST(de.dd AS DOUBLE) / (nn.n - cu.less_t) AS hterm,
             CAST(de.dd AS DOUBLE)
               / ((nn.n - cu.less_t) * CAST(nn.n - cu.less_t AS DOUBLE))
               AS vterm
      FROM deaths de
      JOIN cum cu ON cu.t = de.t
      CROSS JOIN nn
    ),
    hz AS (SELECT unnest([{", ".join(str(h) for h in _NA_HORIZONS)}])
             AS horizon_hours)
    SELECT CAST(hz.horizon_hours AS BIGINT) AS horizon_hours,
           nn.n AS n_users,
           floor(coalesce((SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    list(t2.hterm ORDER BY t2.t)), (a, b) -> a + b)
                  FROM terms t2 WHERE t2.t <= hz.horizon_hours), 0.0)
                 * 1000000 + 0.5) / 1000000.0 AS cum_hazard,
           floor(coalesce((SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    list(t3.vterm ORDER BY t3.t)), (a, b) -> a + b)
                  FROM terms t3 WHERE t3.t <= hz.horizon_hours), 0.0)
                 * 1000000 + 0.5) / 1000000.0 AS hazard_var
    FROM hz CROSS JOIN nn
    """,
    "Nelson–Aalen cumulative hazard of time-to-first-purchase (the "
    "nonparametric hazard companion to `kaplan_meier_conversion`'s "
    "survival product — same at-risk machinery, sum fold instead of "
    "product fold): H(h) = sum over conversion hours <= h of "
    "d_i/n_i plus the standard variance estimator sum d_i/n_i^2, "
    "both folded in event-time order so every double matches the "
    "DuckDB twin bit-for-bit, evaluated at 7 fixed horizons. One "
    "user rollup, then hour-grained (time-span-bounded) arithmetic; "
    "right-censoring at last activity.",
    ("stats", "survival", "events"),
)
def nelson_aalen_hazard(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "tp"
        ),
        F.max("ts").alias("tmax"),
    )
    obs = u.select(
        F.col("tp").isNotNull().alias("d"),
        F.when(
            F.col("tp").isNotNull(),
            F.expr(
                "(CAST(CAST(tp AS TIMESTAMP) AS LONG)"
                " - CAST(CAST(t0 AS TIMESTAMP) AS LONG)) div 3600"
            ),
        )
        .otherwise(
            F.expr(
                "(CAST(CAST(tmax AS TIMESTAMP) AS LONG)"
                " - CAST(CAST(t0 AS TIMESTAMP) AS LONG)) div 3600"
            )
        )
        .alias("tobs"),
    ).localCheckpoint(eager=False)
    nn = obs.agg(F.count("*").alias("n"))
    at_t = obs.groupBy(F.col("tobs").alias("t")).agg(F.count("*").alias("c"))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cum = at_t.select(
        "t", F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("less_t")
    )
    deaths = obs.filter("d").groupBy(F.col("tobs").alias("t")).agg(
        F.count("*").alias("dd")
    )
    at_risk = F.col("n") - F.col("less_t")
    terms = (
        deaths.join(cum, "t")
        .crossJoin(F.broadcast(nn))
        .select(
            "t",
            "dd",
            (F.col("dd").cast("double") / at_risk).alias("hterm"),
            (
                F.col("dd").cast("double")
                / (at_risk * at_risk.cast("double"))
            ).alias("vterm"),
        )
        .localCheckpoint(eager=False)
    )
    hz = spark.range(0, len(_NA_HORIZONS)).select(
        F.element_at(
            F.array(*[F.lit(h) for h in _NA_HORIZONS]),
            (F.col("id") + 1).cast("int"),
        ).alias("horizon_hours")
    )
    joined = hz.join(
        F.broadcast(terms), F.col("t") <= F.col("horizon_hours"), "left"
    )
    folded = joined.groupBy("horizon_hours").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("t").isNotNull(),
                        F.struct("t", "hterm"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["hterm"],
        ).alias("ch"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("t").isNotNull(),
                        F.struct("t", "vterm"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["vterm"],
        ).alias("hv"),
    )
    return folded.crossJoin(F.broadcast(nn)).select(
        F.col("horizon_hours").cast("long").alias("horizon_hours"),
        F.col("n").cast("long").alias("n_users"),
        _r6(F.col("ch")).alias("cum_hazard"),
        _r6(F.col("hv")).alias("hazard_var"),
    )


# ---------------------------------------------------------------------------
# Poisson overdispersion check for daily event counts per type
# ---------------------------------------------------------------------------

@_register(
    "overdispersion_check_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS sq
      FROM daily GROUP BY 1
    )
    SELECT event_type, n_days, s AS total_events,
           floor(s / CAST(n_days AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS mean_daily,
           floor((CAST(n_days AS DOUBLE) * sq - CAST(s AS DOUBLE) * s)
                 / (CAST(n_days AS DOUBLE) * (n_days - 1))
                 * 10000 + 0.5) / 10000.0 AS var_daily,
           floor(((CAST(n_days AS DOUBLE) * sq - CAST(s AS DOUBLE) * s)
                  / (CAST(n_days AS DOUBLE) * (n_days - 1)))
                 / (s / CAST(n_days AS DOUBLE)) * 10000 + 0.5) / 10000.0
             AS dispersion_index,
           ((CAST(n_days AS DOUBLE) * sq - CAST(s AS DOUBLE) * s)
            / (CAST(n_days AS DOUBLE) * (n_days - 1)))
           / (s / CAST(n_days AS DOUBLE)) > 1.5 AS overdispersed
    FROM m
    """,
    "Poisson overdispersion check: per event type, the dispersion "
    "index var/mean of DAILY counts from exact integer moments "
    "(sample variance, pinned arithmetic) with a >1.5 flag — the "
    "modeling gate that says whether Poisson rates (and every "
    "sqrt(n) error bar built on them) are legitimate or whether "
    "arrivals are bursty and need a negative-binomial treatment. "
    "The distribution-assumption companion to "
    "`fano_burstiness_by_type` (inter-arrival view) — same "
    "question, count-process view. One day-grained rollup per "
    "type.",
    ("stats", "timeseries", "modeling", "events"),
)
def overdispersion_check_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast("decimal(20,0)") * F.col("c")).alias("sq"),
    )
    nD = F.col("n_days").cast("double")
    sD = F.col("s").cast("double")
    var = (nD * F.col("sq") - sD * F.col("s")) / (nD * (F.col("n_days") - 1))
    mean = F.col("s") / nD
    r4 = lambda col: F.floor(col * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    return m.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("total_events"),
        r4(mean).alias("mean_daily"),
        r4(var).alias("var_daily"),
        r4(var / mean).alias("dispersion_index"),
        (var / mean > 1.5).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# Event-type lift matrix: association strength within user histories
# ---------------------------------------------------------------------------


@_register(
    "event_type_lift_matrix",
    """
    WITH u AS (
      SELECT user_id, event_type FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM u),
    singles AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.ta AS type_a, p.tb AS type_b, p.c_ab AS n_both,
           sa.c AS n_a, sb.c AS n_b,
           floor(p.c_ab * CAST(t.n AS DOUBLE) / (sa.c * CAST(sb.c AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.ta
    JOIN singles sb ON sb.event_type = p.tb
    CROSS JOIN tot t
    """,
    "Event-type lift matrix: for every pair of event types, "
    "P(both)/P(a)P(b) over user histories — lift > 1 means the "
    "behaviors co-occur beyond chance (signup+purchase), < 1 "
    "means substitution (error vs purchase), from exact "
    "distinct-user counts with one pinned division. The "
    "behavioral-association companion to `market_basket_pairs` "
    "(items) and `audience_overlap_event_types` (raw overlap "
    "counts — lift adds the independence baseline that makes "
    "overlap interpretable). User-keyed pair join bounded by 5 "
    "types per user.",
    ("stats", "association", "events"),
)
def event_type_lift_matrix(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    u = e.select("user_id", "event_type").distinct().localCheckpoint(
        eager=False
    )
    tot = u.agg(F.countDistinct("user_id").alias("n"))
    singles = u.groupBy("event_type").agg(F.count("*").alias("c"))
    a = u.select(F.col("user_id").alias("uid"), F.col("event_type").alias("ta"))
    b = u.select(F.col("user_id").alias("uid"), F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, "uid")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("c_ab"))
    )
    return (
        pairs.join(
            F.broadcast(
                singles.select(
                    F.col("event_type").alias("ta"), F.col("c").alias("n_a")
                )
            ),
            "ta",
        )
        .join(
            F.broadcast(
                singles.select(
                    F.col("event_type").alias("tb"), F.col("c").alias("n_b")
                )
            ),
            "tb",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("c_ab").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.floor(
                    F.col("c_ab")
                    * F.col("n").cast("double")
                    / (F.col("n_a") * F.col("n_b").cast("double"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization: per-type value deciles vs the pooled deciles
# ---------------------------------------------------------------------------

_QN_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


@_register(
    "quantile_normalization_report",
    f"""
    WITH vals AS (
      SELECT event_type,
             CAST(floor(value * 10000) AS BIGINT) AS v
      FROM events
    ),
    per_type AS (
      SELECT event_type AS grp,
             {", ".join(
                 f"round(quantile_cont(v, {q}), 4) AS q{int(q * 100)}"
                 for q in _QN_QS)}
      FROM vals GROUP BY 1
    ),
    pooled AS (
      SELECT {", ".join(
          f"round(quantile_cont(v, {q}), 4) AS p{int(q * 100)}"
          for q in _QN_QS)}
      FROM vals
    )
    {" UNION ALL ".join(
        f'''SELECT t.grp AS event_type, CAST({q!r} AS DOUBLE) AS quantile,
           t.q{int(q * 100)} AS type_value,
           p.p{int(q * 100)} AS pooled_value,
           round(p.p{int(q * 100)} - t.q{int(q * 100)}, 4) AS shift
        FROM per_type t CROSS JOIN pooled p'''
        for q in _QN_QS)}
    """,
    "Quantile normalization report: per event type, exact "
    "interpolated quantiles of value against the POOLED "
    "distribution's quantiles, with the additive shift that maps "
    "one onto the other — the distribution-matching table behind "
    "quantile normalization (microarray-style) and per-segment "
    "feature scaling: applying shift(q) at each rank makes every "
    "type's distribution identical to the pooled one. Integer "
    "ten-thousandths in, exact `quantile_cont`/`percentile` "
    "pairing (the oracle-proven duo), one grid of 5 types x 5 "
    "quantiles out. The prescriptive companion to "
    "`ks_statistic_value_by_type`, which only detects that the "
    "distributions differ.",
    ("stats", "normalization", "events"),
)
def quantile_normalization_report(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
    ).localCheckpoint(eager=False)
    per_type = vals.groupBy(F.col("event_type").alias("grp")).agg(
        *[
            (F.round(F.expr(f"percentile(v, {q})"), 4) + F.lit(0.0)).alias(
                f"q{int(q * 100)}"
            )
            for q in _QN_QS
        ]
    )
    pooled = vals.agg(
        *[
            (F.round(F.expr(f"percentile(v, {q})"), 4) + F.lit(0.0)).alias(
                f"p{int(q * 100)}"
            )
            for q in _QN_QS
        ]
    )
    joined = per_type.crossJoin(F.broadcast(pooled)).localCheckpoint(
        eager=False
    )
    out = None
    for q in _QN_QS:
        qc, pc = f"q{int(q * 100)}", f"p{int(q * 100)}"
        one = joined.select(
            F.col("grp").alias("event_type"),
            F.lit(float(q)).alias("quantile"),
            F.col(qc).alias("type_value"),
            F.col(pc).alias("pooled_value"),
            (F.round(F.col(pc) - F.col(qc), 4) + F.lit(0.0)).alias("shift"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Two-way additive effects decomposition: weekday x priority revenue
# ---------------------------------------------------------------------------


@_register(
    "two_way_effects_decomposition",
    """
    WITH cells AS (
      SELECT (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              + 4) % 7 AS dow,
             o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders GROUP BY 1, 2
    ),
    grand AS (
      SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(s) AS BIGINT) AS gs
      FROM cells
    ),
    rows_ AS (
      SELECT dow, CAST(sum(n) AS BIGINT) AS rn,
             CAST(sum(s) AS BIGINT) AS rs
      FROM cells GROUP BY 1
    ),
    cols_ AS (
      SELECT priority, CAST(sum(n) AS BIGINT) AS cn,
             CAST(sum(s) AS BIGINT) AS cs
      FROM cells GROUP BY 1
    )
    SELECT c.dow, c.priority, c.n AS n_orders,
           floor(c.s / CAST(c.n AS DOUBLE) * 100 + 0.5) / 100.0
             AS cell_mean_cents,
           floor(g.gs / CAST(g.gn AS DOUBLE) * 100 + 0.5) / 100.0
             AS grand_mean_cents,
           floor((r.rs / CAST(r.rn AS DOUBLE)
                  - g.gs / CAST(g.gn AS DOUBLE)) * 100 + 0.5) / 100.0
             AS dow_effect_cents,
           floor((k.cs / CAST(k.cn AS DOUBLE)
                  - g.gs / CAST(g.gn AS DOUBLE)) * 100 + 0.5) / 100.0
             AS priority_effect_cents,
           floor((c.s / CAST(c.n AS DOUBLE)
                  - r.rs / CAST(r.rn AS DOUBLE)
                  - k.cs / CAST(k.cn AS DOUBLE)
                  + g.gs / CAST(g.gn AS DOUBLE)) * 100 + 0.5) / 100.0
             AS interaction_cents
    FROM cells c
    JOIN grand g ON TRUE
    JOIN rows_ r ON r.dow = c.dow
    JOIN cols_ k ON k.priority = c.priority
    """,
    "Two-way additive effects decomposition of order value over "
    "weekday x priority: every cell mean splits into grand mean + "
    "row (weekday) effect + column (priority) effect + "
    "interaction residual — the ANOVA-table view that separates "
    "'Mondays are big' from 'URGENT orders are big' from 'URGENT "
    "Mondays are special' (only the last needs a joint model). "
    "All four components from exact integer sums with pinned "
    "divisions; weekday by integer epoch-day arithmetic. One fact "
    "aggregate to a 35-cell grid; the designed-experiment "
    "companion to `seasonal_index_weekday_revenue` (row effects "
    "alone) and `cramers_v_type_daypart` (association strength "
    "without direction).",
    ("stats", "anova", "orders"),
)
def two_way_effects_decomposition(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dow = (
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            + 4
        )
        % 7
    )
    cells = o.groupBy(
        dow.alias("dow"), F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("s"),
    ).localCheckpoint(eager=False)
    grand = cells.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    rows_ = cells.groupBy("dow").agg(
        F.sum("n").alias("rn"), F.sum("s").alias("rs")
    )
    cols_ = cells.groupBy("priority").agg(
        F.sum("n").alias("cn"), F.sum("s").alias("cs")
    )
    gm = F.col("gs") / F.col("gn").cast("double")
    rm = F.col("rs") / F.col("rn").cast("double")
    cm = F.col("cs") / F.col("cn").cast("double")
    cellm = F.col("s") / F.col("n").cast("double")
    r2 = lambda col: F.floor(col * 100 + F.lit(0.5)) / 100.0  # noqa: E731
    return (
        cells.crossJoin(F.broadcast(grand))
        .join(F.broadcast(rows_), "dow")
        .join(F.broadcast(cols_), "priority")
        .select(
            "dow",
            "priority",
            F.col("n").cast("long").alias("n_orders"),
            r2(cellm).alias("cell_mean_cents"),
            r2(gm).alias("grand_mean_cents"),
            r2(rm - gm).alias("dow_effect_cents"),
            r2(cm - gm).alias("priority_effect_cents"),
            r2(cellm - rm - cm + gm).alias("interaction_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Purchase rate by hour with Wilson 95% intervals
# ---------------------------------------------------------------------------


@_register(
    "purchase_rate_wilson_by_hour",
    """
    WITH hourly AS (
      SELECT CAST(hour(ts) AS INTEGER) AS hr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1
    )
    SELECT hr, n, k,
           floor(k / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS rate,
           floor(((k / CAST(n AS DOUBLE) + 1.9208 / n
                   - 1.96 * sqrt((k / CAST(n AS DOUBLE))
                                 * (1 - k / CAST(n AS DOUBLE)) / n
                                 + 0.9604 / (CAST(n AS DOUBLE) * n)))
                  / (1 + 3.8416 / n)) * 1000000 + 0.5) / 1000000.0
             AS wilson_lo,
           floor(((k / CAST(n AS DOUBLE) + 1.9208 / n
                   + 1.96 * sqrt((k / CAST(n AS DOUBLE))
                                 * (1 - k / CAST(n AS DOUBLE)) / n
                                 + 0.9604 / (CAST(n AS DOUBLE) * n)))
                  / (1 + 3.8416 / n)) * 1000000 + 0.5) / 1000000.0
             AS wilson_hi
    FROM hourly
    """,
    "Purchase rate by hour of day with WILSON 95% score intervals "
    "— the proportion CI that stays sane at small n and near-0 "
    "rates where the naive Wald interval goes negative (z and z^2 "
    "baked in as the literals 1.96/3.8416/1.9208/0.9604, the same "
    "fixed-order expression in both engines). An hour whose "
    "interval clears the daily mean is a real daypart effect; "
    "overlapping intervals are noise a dashboard would have "
    "overclaimed — uncertainty-aware companion to "
    "`weekday_hour_heatmap_events` (counts without error bars). "
    "One grid aggregate, 24 rows.",
    ("stats", "proportion", "events"),
)
def purchase_rate_wilson_by_hour(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(F.hour("ts").cast("int").alias("hr")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
    )
    p = F.col("k") / F.col("n").cast("double")
    nD = F.col("n").cast("double")
    inner = F.sqrt(p * (1 - p) / F.col("n") + 0.9604 / (nD * F.col("n")))
    denom = 1 + 3.8416 / F.col("n")
    lo = (p + 1.9208 / F.col("n") - 1.96 * inner) / denom
    hi = (p + 1.9208 / F.col("n") + 1.96 * inner) / denom
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return hourly.select(
        "hr",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        r6(p).alias("rate"),
        r6(lo).alias("wilson_lo"),
        r6(hi).alias("wilson_hi"),
    )
