"""Descriptive and robust statistics: order statistics, entropy,
concentration and inequality indices, tail and trend estimators.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...core import _r6, _register, _t


@_register(
    "lineitem_stats_by_flag",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) + 0.0  AS qty_stddev,
           round(var_samp(l_quantity), 4) + 0.0     AS qty_var,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_corr
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Statistical aggregates (stddev/variance/correlation) with "
    "partial+final merge — engine addition beyond the reference's "
    "count/sum/avg census (SURVEY §2.6)",
    ("agg", "stats"),
)
def lineitem_stats_by_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.stddev_samp("l_quantity"), 4) + F.lit(0.0)).alias("qty_stddev"),
        (F.round(F.var_samp("l_quantity"), 4) + F.lit(0.0)).alias("qty_var"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
            "qty_price_corr"
        ),
    )


# ---------------------------------------------------------------------------
# Robust statistics: winsorization bounds + fixed-bin histogram
# ---------------------------------------------------------------------------

@_register(
    "winsorize_bounds_lineitem",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           floor(b.p05 * 1e4 + 0.5) / 1e4 AS p05,
           floor(b.p95 * 1e4 + 0.5) / 1e4 AS p95,
           CAST(count(*) FILTER (WHERE l.l_extendedprice < b.p05) AS BIGINT)
             AS n_below,
           CAST(count(*) FILTER (WHERE l.l_extendedprice > b.p95) AS BIGINT)
             AS n_above
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.p05, b.p95
    """,
    "Winsorization audit: exact interpolated p05/p95 per return flag "
    "(Spark percentile ≡ DuckDB quantile_cont) re-joined as broadcast "
    "clamp bounds, counting the rows each tail would clip — the "
    "outlier-robust preprocessing step for value-weighted training "
    "signals. The bounds table is k rows (broadcast); the clamp pass "
    "is scan-local",
    ("statistics", "winsorize", "lineitem"),
)
def winsorize_bounds_lineitem(spark, sf_dir):
    from ....operators.scale import spread_for_compute

    # exact-percentile partials buffer every value inside the scan
    # stage — single-task on the one-row-group fixture; spread the
    # 2-column projection so both the bounds leg and the clamp pass
    # build on all cores (no-op on a multi-split scan)
    li = spread_for_compute(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
    )
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(F.col("l_extendedprice") < F.col("p05"), 1)
            ).alias("n_below"),
            F.count(
                F.when(F.col("l_extendedprice") > F.col("p95"), 1)
            ).alias("n_above"),
        )
        .select(
            "l_returnflag",
            "n",
            (F.floor(F.col("p05") * 1e4 + F.lit(0.5)) / 1e4).alias("p05"),
            (F.floor(F.col("p95") * 1e4 + F.lit(0.5)) / 1e4).alias("p95"),
            "n_below",
            "n_above",
        )
    )


@_register(
    "events_value_histogram",
    """
    WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
    SELECT CAST(least(floor((e.value - s.lo) / ((s.hi - s.lo) / 20)), 19)
                AS INTEGER) AS bin,
           floor((s.lo + least(floor((e.value - s.lo) / ((s.hi - s.lo) / 20)),
                               19) * ((s.hi - s.lo) / 20)) * 1e4 + 0.5) / 1e4
             AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e CROSS JOIN s
    GROUP BY 1, 2
    """,
    "Fixed-width 20-bin histogram with data-derived range: one tiny "
    "min/max aggregate broadcast back onto the scan, then scan-local "
    "binning (identical IEEE arithmetic on both engines makes bin "
    "assignment bit-deterministic) — the sketch for distribution "
    "drift monitoring over training-data batches",
    ("statistics", "histogram", "events"),
)
def events_value_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    s = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20
    bin_col = F.least(
        F.floor((F.col("value") - F.col("lo")) / width), F.lit(19)
    )
    return (
        e.crossJoin(F.broadcast(s))
        .select(
            bin_col.cast("int").alias("bin"),
            (
                F.floor(
                    (F.col("lo") + bin_col * width) * 1e4 + F.lit(0.5)
                )
                / 1e4
            ).alias("bin_lo"),
        )
        .groupBy("bin", "bin_lo")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Behavioral entropy per user (event-type distribution)
# ---------------------------------------------------------------------------

@_register(
    "behavior_entropy_users",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events FROM c GROUP BY 1
    ),
    t AS (
      SELECT c.user_id, c.event_type, c.cnt,
             -(c.cnt / CAST(n.n_events AS DOUBLE))
               * log2(c.cnt / CAST(n.n_events AS DOUBLE)) AS term
      FROM c JOIN n USING (user_id)
    ),
    u AS (
      SELECT user_id,
             CAST(sum(cnt) AS BIGINT) AS n_events,
             CAST(count(*) AS INTEGER) AS n_types,
             list_reduce(list_prepend(0.0, list(term ORDER BY event_type)),
                         (a, x) -> a + x) AS h
      FROM t GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           floor(h * 1000000 + 0.5) / 1000000.0 AS entropy_bits
    FROM u
    """,
    "Behavioral entropy per user: Shannon entropy (bits) of the "
    "user's event-type distribution, the classic bot/engagement "
    "diversity signal. Per-(user,type) integer counts come from one "
    "map-side-combined aggregate; the ≤5 per-user terms "
    "-(c/n)·log₂(c/n) fold LEFT-TO-RIGHT in event_type order on both "
    "engines (the repo-standard discipline for order-sensitive float "
    "sums), so the doubles are bit-identical. Everything after the "
    "first aggregate is users-sized.",
    ("stats", "entropy", "events"),
)
def behavior_entropy_users(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("user_id"))
    p = F.col("cnt") / n.cast("double")
    term = -(p) * F.log2(p)
    g = (
        c.withColumn("term", term)
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.count("*").cast("int").alias("n_types"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("event_type"), F.col("term").alias("v"))
                    )
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ).alias("h"),
        )
    )
    return g.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        "n_types",
        _r6(F.col("h")).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# Burstiness (Fano factor) of hourly arrivals per event type
# ---------------------------------------------------------------------------

@_register(
    "fano_burstiness_by_type",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM hourly GROUP BY 1
    )
    SELECT event_type, n_hours,
           s1 AS n_events,
           floor(s1 / n_hours * 10000 + 0.5) / 10000.0 AS mean_per_hour,
           floor((s2 - s1 * (s1 / n_hours)) / (n_hours - 1) * 10000 + 0.5)
             / 10000.0 AS var_per_hour,
           floor(((s2 - s1 * (s1 / n_hours)) / (n_hours - 1))
                 / (s1 / n_hours) * 1000000 + 0.5) / 1000000.0 AS fano
    FROM m WHERE n_hours > 1
    """,
    "Burstiness screen: the Fano factor (index of dispersion, "
    "variance/mean of hourly arrival counts) per event type over its "
    "OBSERVED hours — ≈1 for Poisson traffic, ≫1 for bursty/bot "
    "traffic, <1 for rate-limited flows. Two map-side-combined "
    "aggregates (facts → hourly cells → per-type exact integer "
    "moments n, Σc, Σc²); every emitted double is one pinned IEEE "
    "expression over those integers.",
    ("stats", "timeseries", "events"),
)
def fano_burstiness_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("c"))
    m = (
        hourly.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c").cast("decimal(20,0)") * F.col("c")).alias("s2"),
        )
        .filter(F.col("n_hours") > 1)
    )
    mean = F.col("s1") / F.col("n_hours")
    var = (F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n_hours"))) / (
        F.col("n_hours") - 1
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return m.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("s1").cast("long").alias("n_events"),
        r4(mean).alias("mean_per_hour"),
        r4(var).alias("var_per_hour"),
        _r6(var / mean).alias("fano"),
    )


# ---------------------------------------------------------------------------
# Cent-digit uniformity screen (rounding / fabrication anomaly)
# ---------------------------------------------------------------------------

@_register(
    "cent_digit_uniformity_orders",
    """
    WITH d AS (
      SELECT CAST(CAST(floor(o_totalprice * 100) AS BIGINT) % 100 AS INTEGER)
               AS cents
      FROM orders
    ),
    c AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT)
                 AS n_digits FROM c)
    SELECT c.cents, c.n,
           floor((c.n - total / 100.0) * (c.n - total / 100.0)
                 / (total / 100.0) * 1000000 + 0.5) / 1000000.0
             AS chi2_term,
           floor(c.n / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share
    FROM c CROSS JOIN t
    """,
    "Rounding / fabrication anomaly screen: the distribution of the "
    "cents digits (price·100 mod 100) across orders with each cell's "
    "χ² contribution against the uniform expectation — the "
    "'round-number bias' check auditors pair with Benford's law "
    "(`benford_first_digit_orders` covers leading digits; this "
    "covers trailing). One scan → 100-cell aggregate; every double "
    "is one pinned expression over exact integer counts.",
    ("quality", "stats", "orders"),
)
def cent_digit_uniformity_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = (F.floor(F.col("o_totalprice") * 100).cast("long") % 100).cast("int")
    c = o.select(cents.alias("cents")).groupBy("cents").agg(
        F.count("*").alias("n")
    )
    t = c.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_digits")
    )
    exp = F.col("total") / F.lit(100.0)
    return c.crossJoin(F.broadcast(t)).select(
        "cents",
        F.col("n").cast("long").alias("n"),
        _r6((F.col("n") - exp) * (F.col("n") - exp) / exp).alias("chi2_term"),
        _r6(F.col("n") / F.col("total").cast("double")).alias("share"),
    )


# ---------------------------------------------------------------------------
# Hill estimator of the revenue tail index
# ---------------------------------------------------------------------------

_HILL_K = 200


@_register(
    "hill_tail_index_orders",
    f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v DESC) AS rk FROM cents
    ),
    thresh AS (SELECT v AS vk FROM ranked WHERE rk = {_HILL_K} + 1),
    terms AS (
      SELECT r.rk, ln(r.v / CAST(t.vk AS DOUBLE)) AS term
      FROM ranked r CROSS JOIN thresh t
      WHERE r.rk <= {_HILL_K}
    ),
    folded AS (
      SELECT list_reduce(list_prepend(0.0, list(term ORDER BY rk)),
                         (a, x) -> a + x) AS s
      FROM terms
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           floor(s / {_HILL_K} * 1000000 + 0.5) / 1000000.0 AS hill_gamma,
           floor({_HILL_K} / s * 1000000 + 0.5) / 1000000.0 AS tail_alpha
    FROM folded
    """,
    "Hill estimator of the heavy-tail index of order revenue: "
    "γ̂ = (1/k)·Σ ln(x(i)/x(k+1)) over the top-k order statistics "
    "(k=200), with α̂ = 1/γ̂ — the standard answer to 'how heavy is "
    "the whale tail?' that Gini/Pareto curves don't quantify. The "
    "top-(k+1) rows come from one rank window (TOP-K pushdown at "
    "scale); the k log-ratio terms fold left-to-right in rank order "
    "so both engines sum identical doubles identically. Values are "
    "exact integer cents; ties broken by rank make the top-k set "
    "deterministic because equal values yield equal terms.",
    ("stats", "tail", "orders"),
)
def hill_tail_index_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    rk = Window.orderBy(F.desc("v"))
    ranked = cents.select("v", F.row_number().over(rk).alias("rk")).filter(
        F.col("rk") <= _HILL_K + 1
    )
    thresh = ranked.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("v").alias("vk")
    )
    terms = (
        ranked.filter(F.col("rk") <= _HILL_K)
        .crossJoin(F.broadcast(thresh))
        .select("rk", F.log(F.col("v") / F.col("vk").cast("double")).alias("term"))
    )
    folded = terms.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("rk"), F.col("term").alias("t")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["t"],
        ).alias("s")
    )
    return folded.select(
        F.lit(_HILL_K).cast("long").alias("k"),
        _r6(F.col("s") / F.lit(_HILL_K)).alias("hill_gamma"),
        _r6(F.lit(_HILL_K) / F.col("s")).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes-style shrunken return rates per part
# ---------------------------------------------------------------------------

_SHRINK_PRIOR = 20


@_register(
    "shrunken_return_rates_parts",
    f"""
    WITH per_part AS (
      SELECT l_partkey AS part,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM lineitem GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sn
      FROM per_part
    )
    SELECT part, n, x,
           floor(x / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS raw_rate,
           floor((x + {_SHRINK_PRIOR} * (sx / CAST(sn AS DOUBLE)))
                 / (n + {_SHRINK_PRIOR}) * 1000000 + 0.5) / 1000000.0
             AS shrunk_rate
    FROM per_part CROSS JOIN pooled
    WHERE n >= 3
    """,
    "Shrinkage estimation of per-part return rates: raw x/n is noisy "
    "for thin parts, so each rate shrinks toward the pooled corpus "
    "rate with prior strength 20 pseudo-observations — "
    "(x + k·p̂)/(n + k), the beta-binomial posterior-mean form that "
    "stops low-n parts from topping 'worst return rate' reports. One "
    "map-side-combined rollup; the pooled scalar broadcasts back; "
    "both rates are pinned IEEE expressions over exact integers.",
    ("stats", "shrinkage", "lineitem"),
)
def shrunken_return_rates_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("x"),
        )
        .filter(F.col("n") >= 3)
    )
    pooled = per_part.agg(F.sum("x").alias("sx"), F.sum("n").alias("sn"))
    p0 = F.col("sx") / F.col("sn").cast("double")
    return per_part.crossJoin(F.broadcast(pooled)).select(
        "part",
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        _r6(F.col("x") / F.col("n").cast("double")).alias("raw_rate"),
        _r6(
            (F.col("x") + F.lit(_SHRINK_PRIOR) * p0)
            / (F.col("n") + F.lit(_SHRINK_PRIOR))
        ).alias("shrunk_rate"),
    )


# ---------------------------------------------------------------------------
# 5% trimmed mean of order value per priority
# ---------------------------------------------------------------------------

@_register(
    "trimmed_mean_price_by_priority",
    """
    WITH ranked AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY floor(o_totalprice * 100),
                                         o_orderkey) AS rk,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    kept AS (
      SELECT priority, cents, n
      FROM ranked
      WHERE rk > n * 5 // 100 AND rk <= n - n * 5 // 100
    )
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           floor(sum(cents) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS trimmed_mean_cents
    FROM kept GROUP BY priority
    """,
    "5% two-sided trimmed mean of order value per priority: rows "
    "rank deterministically within each group (cents, orderkey), the "
    "bottom and top ⌊0.05n⌋ rows drop by integer rank bounds, and "
    "the mean of the kept EXACT integer cents is one pinned "
    "division — the outlier-robust mean that pairs with the "
    "median/MAD and winsorization operators (trim REMOVES tails "
    "rather than clamping them). One rank window per group + one "
    "aggregate; no collects, no arrays.",
    ("stats", "robust", "orders"),
)
def trimmed_mean_price_by_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("priority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("priority")
    ranked = o.select(
        F.col("o_orderpriority").alias("priority"),
        cents.alias("cents"),
        "o_orderkey",
    ).select(
        "priority",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    trim = F.floor(F.col("n") * 5 / 100)
    kept = ranked.filter(
        (F.col("rk") > trim) & (F.col("rk") <= F.col("n") - trim)
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return kept.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_kept"),
        r4(F.sum("cents") / F.count("*").cast("double")).alias(
            "trimmed_mean_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Price–quantity slope per brand from exact integer moments
# ---------------------------------------------------------------------------

@_register(
    "price_quantity_slope_by_brand",
    """
    WITH base AS (
      SELECT p.p_brand AS brand,
             CAST(floor(l.l_extendedprice / l.l_quantity * 100) AS BIGINT)
               AS unit_cents,
             CAST(l.l_quantity AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    m AS (
      SELECT brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(unit_cents) AS BIGINT) AS sx,
             CAST(sum(qty) AS BIGINT) AS sy,
             CAST(sum(unit_cents * unit_cents) AS BIGINT) AS sxx,
             CAST(sum(unit_cents * qty) AS BIGINT) AS sxy
      FROM base GROUP BY 1
    )
    SELECT brand, n,
           floor(sx / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS mean_unit_cents,
           floor(sy / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000.0 AS mean_qty,
           floor((sxy - sx * (sy / CAST(n AS DOUBLE)))
                 / (sxx - sx * (sx / CAST(n AS DOUBLE)))
                 * 1000000000 + 0.5) / 1000000000.0 AS slope_qty_per_cent
    FROM m WHERE n > 1 AND sxx - sx * (sx / CAST(n AS DOUBLE)) <> 0.0
    """,
    "Price-sensitivity slope per brand: OLS slope of quantity on "
    "unit price (integer cents) from EXACT integer moment sums "
    "(n, Σx, Σy, Σx², Σxy) accumulated in ONE map-side-combined "
    "scan — the demand-curve screen that a log-log elasticity "
    "regression needs float-order-hazardous Σln sums for; using raw "
    "integer cents keeps every aggregate exact at any parallelism "
    "and the slope one pinned IEEE expression (the same moment "
    "discipline as `lineitem_regression_by_flag`, applied per "
    "brand with a degenerate-variance guard).",
    ("stats", "regression", "lineitem"),
)
def price_quantity_slope_by_brand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        .cast("long")
        .alias("unit_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    m = (
        base.groupBy("brand")
        .agg(
            F.count("*").alias("n"),
            F.sum("unit_cents").alias("sx"),
            F.sum("qty").alias("sy"),
            F.sum(
                F.col("unit_cents").cast("decimal(20,0)")
                * F.col("unit_cents")
            ).alias("sxx"),
            F.sum(
                F.col("unit_cents").cast("decimal(20,0)") * F.col("qty")
            ).alias("sxy"),
        )
        .filter(
            (F.col("n") > 1)
            & (
                F.col("sxx")
                - F.col("sx") * (F.col("sx") / F.col("n").cast("double"))
                != 0.0
            )
        )
    )
    nd = F.col("n").cast("double")
    slope = (F.col("sxy") - F.col("sx") * (F.col("sy") / nd)) / (
        F.col("sxx") - F.col("sx") * (F.col("sx") / nd)
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    r9 = lambda c: F.floor(c * 1000000000 + F.lit(0.5)) / F.lit(1000000000.0)  # noqa: E731
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n"),
        r4(F.col("sx") / nd).alias("mean_unit_cents"),
        r4(F.col("sy") / nd).alias("mean_qty"),
        r9(slope).alias("slope_qty_per_cent"),
    )


# ---------------------------------------------------------------------------
# Quartile coefficient of dispersion per brand
# ---------------------------------------------------------------------------

@_register(
    "quartile_dispersion_by_brand",
    """
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(l.l_extendedprice, 0.25), 4) + 0.0 AS q1,
           round(quantile_cont(l.l_extendedprice, 0.75), 4) + 0.0 AS q3,
           floor((quantile_cont(l.l_extendedprice, 0.75)
                  - quantile_cont(l.l_extendedprice, 0.25))
                 / (quantile_cont(l.l_extendedprice, 0.75)
                    + quantile_cont(l.l_extendedprice, 0.25))
                 * 1000000 + 0.5) / 1000000.0 AS qcd
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
    "Quartile coefficient of dispersion (Q3−Q1)/(Q3+Q1) of line "
    "price per brand: the scale-free robust spread measure that "
    "lets brands with very different price levels be compared on "
    "one axis (unlike raw IQR) and shrugs off outliers (unlike "
    "CV = σ/μ). Exact linear-interpolation quartiles — Spark "
    "percentile() ≡ DuckDB quantile_cont(), the parity the "
    "percentile operators established — in ONE grouped aggregate "
    "over the brand-keyed join.",
    ("stats", "robust", "percentile", "lineitem"),
)
def quartile_dispersion_by_brand(spark, sf_dir):
    from ....operators.scale import spread_for_compute

    # exact percentile's partial aggregate collects the full value
    # buffer per group in the SCAN stage — a single-row-group fixture
    # file serializes that onto one core (guide §2.6/§6); spreading
    # the 2-column projection first builds the buffers on all cores.
    # No-op on any multi-split real scan.
    li = spread_for_compute(
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(p, li.l_partkey == p.p_partkey)
    q1 = F.expr("percentile(l_extendedprice, 0.25)")
    q3 = F.expr("percentile(l_extendedprice, 0.75)")
    return j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n"),
        (F.round(q1, 4) + F.lit(0.0)).alias("q1"),
        (F.round(q3, 4) + F.lit(0.0)).alias("q3"),
        _r6((q3 - q1) / (q3 + q1)).alias("qcd"),
    )


# ---------------------------------------------------------------------------
# Between-group Theil inequality across market segments
# (tests/test_round7_ops.py::test_theil_and_hhi_bounds and the
# COVERAGE.md rows shipped in round 2; the registry entries land here)
# ---------------------------------------------------------------------------

@_register(
    "theil_between_segments",
    """
    WITH seg AS (
      SELECT c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y_g
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(sum(y_g) AS BIGINT) AS y FROM seg),
    terms AS (
      SELECT s.segment,
             (s.y_g / CAST(t.y AS DOUBLE))
               * ln((s.y_g / CAST(t.y AS DOUBLE))
                    / (s.n_g / CAST(t.n AS DOUBLE))) AS term
      FROM seg s CROSS JOIN tot t
    ),
    f AS (SELECT list_reduce(list_prepend(0.0,
                   list(term ORDER BY segment)), (a, x) -> a + x) AS tb
          FROM terms)
    SELECT CAST((SELECT count(*) FROM seg) AS BIGINT) AS n_segments,
           floor(tb * 1000000 + 0.5) / 1000000.0 AS theil_between
    FROM f
    """,
    "Between-group Theil-T inequality of order value across customer "
    "market segments: Σ s_g·ln(s_g/p_g) where s_g is the segment's "
    "integer-cent value share and p_g its population share — a KL "
    "divergence, hence nonnegative, and the decomposable complement "
    "to Gini. Segment sums are exact cents; the 5-term fold is "
    "segment-ordered (array_sort + F.aggregate ≡ DuckDB list_reduce) "
    "so both engines add in the same order. One fact rollup + 5-row "
    "arithmetic",
    ("stats", "inequality", "orders", "customer"),
)
def theil_between_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_g"), F.sum(cents).alias("y_g"))
    )
    tot = seg.agg(F.sum("n_g").alias("n"), F.sum("y_g").alias("y"))
    s_share = F.col("y_g") / F.col("y").cast("double")
    p_share = F.col("n_g") / F.col("n").cast("double")
    terms = seg.crossJoin(F.broadcast(tot)).withColumn(
        "term", s_share * F.log(s_share / p_share)
    )
    n_segments = seg.agg(F.count("*").alias("n_segments"))
    folded = terms.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("segment"), F.col("term").alias("v"))
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("tb")
    )
    return folded.crossJoin(F.broadcast(n_segments)).select(
        F.col("n_segments").cast("long").alias("n_segments"),
        _r6(F.col("tb")).alias("theil_between"),
    )


@_register(
    "hhi_supplier_concentration",
    """
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
             CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nationkey, CAST(sum(y) AS BIGINT) AS yt,
                   CAST(count(*) AS BIGINT) AS ns
            FROM rev GROUP BY 1),
    terms AS (
      SELECT r.nationkey, r.suppkey,
             (r.y / CAST(t.yt AS DOUBLE)) * (r.y / CAST(t.yt AS DOUBLE))
               AS term
      FROM rev r JOIN tot t USING (nationkey)
    ),
    f AS (
      SELECT nationkey,
             list_reduce(list_prepend(0.0, list(term ORDER BY suppkey)),
                         (a, x) -> a + x) AS hhi
      FROM terms GROUP BY nationkey
    )
    SELECT n.n_name AS nation, t.ns AS n_suppliers,
           floor(f.hhi * 1000000 + 0.5) / 1000000.0 AS hhi,
           floor(1.0 / t.ns * 1000000 + 0.5) / 1000000.0 AS hhi_floor
    FROM f
    JOIN tot t USING (nationkey)
    JOIN nation n ON n.n_nationkey = f.nationkey
    """,
    "Herfindahl–Hirschman supplier-revenue concentration per nation: "
    "Σ share² over each nation's suppliers (exact integer-cent "
    "revenue shares) plus the 1/n equal-share floor — the market-"
    "concentration / shard-balance diagnostic. Supplier-keyed "
    "rollup, broadcast per-nation totals, supplier-ordered folds so "
    "the share² sums are bit-identical across engines",
    ("stats", "concentration", "lineitem", "supplier"),
)
def hhi_supplier_concentration(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.sum(cents).alias("y"))
    )
    tot = rev.groupBy("nationkey").agg(
        F.sum("y").alias("yt"), F.count("*").alias("ns")
    )
    share = F.col("y") / F.col("yt").cast("double")
    terms = rev.join(F.broadcast(tot), "nationkey").withColumn(
        "term", share * share
    )
    folded = terms.groupBy("nationkey").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("suppkey"), F.col("term").alias("v"))
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("hhi")
    )
    return (
        folded.join(F.broadcast(tot), "nationkey")
        .join(
            F.broadcast(n), folded.nationkey == F.col("n_nationkey")
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("ns").cast("long").alias("n_suppliers"),
            _r6(F.col("hhi")).alias("hhi"),
            _r6(F.lit(1.0) / F.col("ns")).alias("hhi_floor"),
        )
    )


def _benford_oracle() -> str:
    """Benford shares inlined as full-precision Python literals so
    neither engine's log implementation participates."""
    shares = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    share_rows = ", ".join(
        f"({d}, CAST({repr(p)} AS DOUBLE))" for d, p in shares.items()
    )
    return f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM cents
    ),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
            FROM digits GROUP BY 1),
    exp_ AS (SELECT * FROM (VALUES {share_rows}) AS t(digit, p)),
    nn AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
    cells AS (
      SELECT e.digit, coalesce(o.n, 0) AS n, e.p,
             (coalesce(o.n, 0) - nn.total * e.p)
             * (coalesce(o.n, 0) - nn.total * e.p)
             / (nn.total * e.p) AS term
      FROM exp_ e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN nn
    ),
    chi AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
              list(term ORDER BY digit)), (a, b) -> a + b) AS chi2
            FROM cells)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n_orders,
           floor(c.n / CAST(nn.total AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS observed_share,
           floor(c.p * 1000000 + 0.5) / 1000000.0 AS benford_share,
           floor(chi.chi2 * 10000 + 0.5) / 10000.0 AS chi2
    FROM cells c CROSS JOIN nn CROSS JOIN chi
    """


@_register(
    "benford_chi2_orders",
    _benford_oracle(),
    "Benford's-law first-significant-digit audit of order totals "
    "with the chi-square deviation statistic (the existing benford_"
    "first_digit_orders reports per-digit deviations; THIS adds the "
    "single-number test) — "
    "the fraud/synthetic-data screen: digit frequencies of the "
    "integer-cent amounts vs log10(1+1/d) expectations plus the χ² "
    "deviation statistic. The first digit comes from integer-to-"
    "string conversion (exact in both engines — no cross-engine "
    "log10 of data), the Benford constants are inlined full-"
    "precision Python literals, and the χ² folds in digit order. "
    "One map-side-combined digit aggregate; 9-row arithmetic after",
    ("quality", "stats", "audit", "orders"),
)
def benford_chi2_orders(spark, sf_dir):
    shares = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    o = _t(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    exp_ = spark.createDataFrame(
        [(d, p) for d, p in shares.items()], "digit int, p double"
    )
    nn = obs.agg(F.sum("n").alias("total"))
    cells = (
        exp_.join(obs, "digit", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "p",
            "total",
        )
        .withColumn(
            "term",
            (F.col("n") - F.col("total") * F.col("p"))
            * (F.col("n") - F.col("total") * F.col("p"))
            / (F.col("total") * F.col("p")),
        )
    )
    chi = cells.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("digit", "term"))),
            F.lit(0.0),
            lambda a, x: a + x["term"],
        ).alias("chi2")
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return cells.crossJoin(F.broadcast(chi)).select(
        "digit",
        F.col("n").cast("long").alias("n_orders"),
        _r6(F.col("n") / F.col("total").cast("double")).alias(
            "observed_share"
        ),
        _r6(F.col("p")).alias("benford_share"),
        r4(F.col("chi2")).alias("chi2"),
    )


def _card_est_oracle() -> str:
    blocks = []
    for name, a, ka, b, kb in (
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ):
        blocks.append(f"""
    SELECT '{name}' AS join_name,
           (SELECT CAST(count(*) AS BIGINT) FROM {a}) AS left_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM {b}) AS right_rows,
           CAST(floor(
             (SELECT count(*) FROM {a}) * 1.0
             * (SELECT count(*) FROM {b})
             / greatest((SELECT count(DISTINCT {ka}) FROM {a}),
                        (SELECT count(DISTINCT {kb}) FROM {b}))
           ) AS BIGINT) AS est_rows,
           (SELECT CAST(count(*) AS BIGINT)
            FROM {a} JOIN {b} ON {a}.{ka} = {b}.{kb}) AS actual_rows,
           floor(
             (SELECT count(*) FROM {a}) * 1.0
             * (SELECT count(*) FROM {b})
             / greatest((SELECT count(DISTINCT {ka}) FROM {a}),
                        (SELECT count(DISTINCT {kb}) FROM {b}))
             / (SELECT count(*) FROM {a} JOIN {b}
                ON {a}.{ka} = {b}.{kb})
             * 10000 + 0.5) / 10000.0 AS err_ratio""")
    return "\n    UNION ALL\n".join(blocks)


@_register(
    "join_cardinality_estimates",
    _card_est_oracle(),
    "Cost-based-optimizer join cardinality estimation, validated "
    "against ground truth: for three FK joins, the textbook estimate "
    "|A|·|B|/max(ndv_A, ndv_B) from EXACT ndv counts next to the "
    "actual join cardinality and the error ratio — the arithmetic a "
    "planner runs before picking join order/strategy, and the "
    "calibration report that tells you when to ANALYZE. All inputs "
    "are exact integer counts (one aggregate per side + the actual "
    "joins), so both engines derive identical doubles",
    ("cbo", "statistics", "join", "orders", "lineitem"),
)
def join_cardinality_estimates(spark, sf_dir):
    out = None
    for name, a, ka, b, kb in (
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ):
        da = _t(spark, sf_dir, a)
        db = _t(spark, sf_dir, b)
        sa = da.agg(
            F.count("*").alias("left_rows"),
            F.countDistinct(ka).alias("ndv_a"),
        )
        sb = db.agg(
            F.count("*").alias("right_rows"),
            F.countDistinct(kb).alias("ndv_b"),
        )
        actual = (
            da.join(db, da[ka] == db[kb])
            .agg(F.count("*").alias("actual_rows"))
        )
        est = (
            F.col("left_rows") * F.lit(1.0) * F.col("right_rows")
            / F.greatest(F.col("ndv_a"), F.col("ndv_b"))
        )
        r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
        row = (
            sa.crossJoin(sb)
            .crossJoin(actual)
            .select(
                F.lit(name).alias("join_name"),
                F.col("left_rows").cast("long").alias("left_rows"),
                F.col("right_rows").cast("long").alias("right_rows"),
                F.floor(est).cast("long").alias("est_rows"),
                F.col("actual_rows").cast("long").alias("actual_rows"),
                r4(est / F.col("actual_rows")).alias("err_ratio"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@_register(
    "cusum_changepoint_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n FROM daily),
    dev AS (
      SELECT day, cents,
             sum(cents * tot.n - tot.s) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS cum_scaled
      FROM daily CROSS JOIN tot
    )
    SELECT d.day AS changepoint_day,
           CAST(abs(d.cum_scaled) AS BIGINT) AS peak_abs_scaled,
           t.n AS n_days
    FROM dev d CROSS JOIN tot t
    ORDER BY abs(d.cum_scaled) DESC, d.day ASC
    LIMIT 1
    """,
    "CUSUM changepoint LOCATION for daily revenue — the companion "
    "the drift DETECTORS (Page–Hinkley, PSI, Mann–Kendall) lack: "
    "the day where the cumulative deviation from the global mean "
    "peaks is the classic single-changepoint estimator. All "
    "arithmetic is exact integers (deviations scaled by n to avoid "
    "any division: cum Σ(x_i·n − S) is the n-scaled CUSUM), the "
    "running sum is over the days-sized rollup (constant-bounded "
    "window), and the argmax is a 1-row top-k",
    ("stats", "drift", "changepoint", "events"),
)
def cusum_changepoint_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    tot = daily.agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.sum(
            F.col("cents").cast("decimal(20,0)") * F.col("n") - F.col("s")
        ).over(w).alias(
            "cum_scaled"
        ),
        "n",
    )
    return (
        dev.orderBy(F.abs(F.col("cum_scaled")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.abs(F.col("cum_scaled")).cast("long").alias("peak_abs_scaled"),
            F.col("n").cast("long").alias("n_days"),
        )
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily-revenue series (location + depth)
# ---------------------------------------------------------------------------

@_register(
    "max_drawdown_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT day, rev,
             max(rev) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS peak,
             max(rev) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) - rev AS draw
      FROM daily
    ),
    trough AS (
      SELECT day AS trough_day, rev AS trough_cents, peak AS peak_cents,
             draw AS drawdown_cents
      FROM dd ORDER BY draw DESC, day ASC LIMIT 1
    )
    SELECT t.trough_day, t.trough_cents,
           (SELECT min(day) FROM dd
             WHERE rev = t.peak_cents AND day <= t.trough_day) AS peak_day,
           t.peak_cents, t.drawdown_cents,
           floor(CAST(t.drawdown_cents AS DOUBLE)
                 / CAST(t.peak_cents AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS drawdown_frac
    FROM trough t
    """,
    "Maximum-drawdown locator for the daily-revenue series: running "
    "peak (cumulative max), deepest peak-to-trough drop in exact "
    "integer cents, earliest-day tie-break, and the matching peak "
    "day recovered by joining the 1-row trough back against the "
    "series. The running-max window orders the days-sized rollup "
    "(~2,400 rows at any fact scale), never the raw table. The "
    "regime-shift companion to `cusum_changepoint_daily` (mean "
    "shifts) and `bollinger_daily_revenue` (volatility bands).",
    ("stats", "timeseries", "orders"),
)
def max_drawdown_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "rev",
        F.max("rev").over(w).alias("peak"),
        (F.max("rev").over(w) - F.col("rev")).alias("draw"),
    ).localCheckpoint()
    trough = (
        dd.orderBy(F.col("draw").desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("trough_day"),
            F.col("rev").alias("trough_cents"),
            F.col("peak").alias("peak_cents"),
            F.col("draw").alias("drawdown_cents"),
        )
    )
    peak_day = (
        trough.join(
            dd.select(F.col("day").alias("pd"), F.col("rev").alias("prev")),
            (F.col("prev") == F.col("peak_cents"))
            & (F.col("pd") <= F.col("trough_day")),
        )
        .groupBy("trough_day", "trough_cents", "peak_cents", "drawdown_cents")
        .agg(F.min("pd").alias("peak_day"))
    )
    return peak_day.select(
        "trough_day",
        "trough_cents",
        "peak_day",
        "peak_cents",
        "drawdown_cents",
        _r6(
            F.col("drawdown_cents").cast("double")
            / F.col("peak_cents").cast("double")
        ).alias("drawdown_frac"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily revenue
# ---------------------------------------------------------------------------

_HURST_NS = (16, 32, 64, 128, 256)
_HURST_LN_N = {n: math.log(float(n)) for n in _HURST_NS}


def _hurst_block_sql(n):
    return f"""
    SELECT {n} AS block_n, blk,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(kd) AS BIGINT) AS s,
           CAST(sum(kd * kd) AS BIGINT) AS q,
           CAST(max({n} * cums - idx * tot) AS BIGINT) AS devmax,
           CAST(min({n} * cums - idx * tot) AS BIGINT) AS devmin
    FROM (
      SELECT blk, kd, idx,
             sum(kd) OVER (PARTITION BY blk ORDER BY idx
                           ROWS UNBOUNDED PRECEDING) AS cums,
             sum(kd) OVER (PARTITION BY blk) AS tot
      FROM (
        SELECT (i - 1) // {n} AS blk, ((i - 1) % {n}) + 1 AS idx, kd
        FROM series
      )
    ) GROUP BY 1, 2 HAVING count(*) = {n}
    """


@_register(
    "hurst_rs_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        / 100000) AS BIGINT) AS kd
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT row_number() OVER (ORDER BY day) AS i, kd FROM daily
    ),
    blocks AS (
      {" UNION ALL ".join(_hurst_block_sql(n) for n in _HURST_NS)}
    ),
    rs AS (
      SELECT block_n,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(CAST(floor(
               CAST(devmax - devmin AS DOUBLE)
               / sqrt(CAST(block_n * q - s * s AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_rs_micro
      FROM blocks
      WHERE block_n * q - s * s > 0
      GROUP BY 1
    ),
    pivoted AS (
      SELECT {", ".join(
          f"max(CASE WHEN block_n = {n} THEN "
          f"ln(CAST(sum_rs_micro AS DOUBLE) / (CAST(n_blocks AS DOUBLE)"
          f" * 1000000.0)) END) AS y{n}"
          for n in _HURST_NS)}
      FROM rs
    ),
    fit AS (
      SELECT ({len(_HURST_NS)}.0 * ({" + ".join(
                f"{_HURST_LN_N[n]!r} * y{n}" for n in _HURST_NS)})
              - ({" + ".join(f"{_HURST_LN_N[n]!r}" for n in _HURST_NS)})
                * ({" + ".join(f"y{n}" for n in _HURST_NS)}))
             / ({len(_HURST_NS)}.0 * ({" + ".join(
                  f"{_HURST_LN_N[n]!r} * {_HURST_LN_N[n]!r}"
                  for n in _HURST_NS)})
                - ({" + ".join(f"{_HURST_LN_N[n]!r}" for n in _HURST_NS)})
                  * ({" + ".join(
                      f"{_HURST_LN_N[n]!r}" for n in _HURST_NS)}))
             AS hurst
      FROM pivoted
    )
    SELECT r.block_n, r.n_blocks,
           floor(CAST(r.sum_rs_micro AS DOUBLE)
                 / (CAST(r.n_blocks AS DOUBLE) * 1000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS mean_rs,
           floor(f.hurst * 1000000 + 0.5) / 1000000.0 AS hurst
    FROM rs r CROSS JOIN fit f
    """,
    "Hurst exponent via rescaled-range (R/S) analysis of the daily "
    "revenue series — the long-range-dependence / self-similarity "
    "diagnostic (H=0.5 random walk, H>0.5 persistent): for block "
    "sizes 16..256, per complete block the range of n-SCALED "
    "cumulative deviations (n*cumsum - k*total stays a pure "
    "integer — no float mean subtraction) over sqrt(n*sumsq - "
    "sum^2), i.e. R/S = integer / sqrt(integer), bit-identical "
    "across engines; per-block R/S is quantized to micro units so "
    "per-n means are order-free integer sums, and H is the 5-point "
    "OLS slope of ln(R/S) vs ln(n) with the ln(n) terms as compile-"
    "time literals in one fixed-order expression. Series units are "
    "kilodollars so sum-of-squares stays in int64 at any SF. All "
    "windows run on the days-sized rollup.",
    ("stats", "timeseries", "fractal", "orders"),
)
def hurst_rs_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")) / 100000
        )
        .cast("long")
        .alias("kd")
    )
    series = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "kd"
    ).localCheckpoint(eager=False)
    blocks = None
    for n in _HURST_NS:
        base = series.select(
            F.expr(f"(i - 1) div {n}").alias("blk"),
            (((F.col("i") - 1) % n) + 1).alias("idx"),
            "kd",
        )
        wcum = (
            Window.partitionBy("blk")
            .orderBy("idx")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wtot = Window.partitionBy("blk")
        dev = n * F.sum("kd").over(wcum) - F.col("idx") * F.sum("kd").over(
            wtot
        )
        withdev = base.select(
            "blk", "kd", dev.alias("dev")
        )
        one = (
            withdev.groupBy("blk")
            .agg(
                F.count("*").alias("cnt"),
                F.sum("kd").alias("s"),
                F.sum(F.col("kd").cast("decimal(20,0)") * F.col("kd")).alias("q"),
                F.max("dev").alias("devmax"),
                F.min("dev").alias("devmin"),
            )
            .filter(F.col("cnt") == n)
            .select(
                F.lit(n).alias("block_n"),
                F.col("s").cast("long").alias("s"),
                F.col("q").cast("long").alias("q"),
                F.col("devmax").cast("long").alias("devmax"),
                F.col("devmin").cast("long").alias("devmin"),
            )
        )
        blocks = one if blocks is None else blocks.unionAll(one)
    rs_micro = F.floor(
        (F.col("devmax") - F.col("devmin")).cast("double")
        / F.sqrt((F.col("block_n") * F.col("q") - F.col("s") * F.col("s")).cast("double"))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    rs = (
        blocks.filter(
            F.col("block_n") * F.col("q") - F.col("s") * F.col("s") > 0
        )
        .select("block_n", rs_micro.alias("rsm"))
        .groupBy("block_n")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("rsm").cast("long").alias("sum_rs_micro"),
        )
        .localCheckpoint(eager=False)
    )
    lnrs = {
        n: F.max(
            F.when(
                F.col("block_n") == n,
                F.log(
                    F.col("sum_rs_micro").cast("double")
                    / (F.col("n_blocks").cast("double") * 1000000.0)
                ),
            )
        )
        for n in _HURST_NS
    }
    piv = rs.agg(*[lnrs[n].alias(f"y{n}") for n in _HURST_NS])
    k = float(len(_HURST_NS))
    sxy = sum(
        (F.lit(_HURST_LN_N[n]) * F.col(f"y{n}") for n in _HURST_NS[1:]),
        F.lit(_HURST_LN_N[_HURST_NS[0]]) * F.col(f"y{_HURST_NS[0]}"),
    )
    sx = sum(_HURST_LN_N[n] for n in _HURST_NS)
    sy = sum(
        (F.col(f"y{n}") for n in _HURST_NS[1:]),
        F.col(f"y{_HURST_NS[0]}"),
    )
    sxx = sum(_HURST_LN_N[n] * _HURST_LN_N[n] for n in _HURST_NS)
    fit = piv.select(
        (
            (F.lit(k) * sxy - F.lit(sx) * sy)
            / (F.lit(k) * F.lit(sxx) - F.lit(sx) * F.lit(sx))
        ).alias("hurst")
    )
    return rs.crossJoin(fit).select(
        "block_n",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        _r6(
            F.col("sum_rs_micro").cast("double")
            / (F.col("n_blocks").cast("double") * 1000000.0)
        ).alias("mean_rs"),
        _r6(F.col("hurst")).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# Huber robust location of daily revenue via 4 unrolled IRLS passes
# ---------------------------------------------------------------------------

_HUBER_ITERS = 4
_HUBER_C = 1.345


def _huber_layer_sql(i: int) -> str:
    """One IRLS pass: weighted mean with w = min(1, c/|x - m|). Two
    CTE layers (fold, then divide) — DuckDB's binder rejects the
    fold inside a correlated scalar subquery."""
    return f"""
    f{i} AS (
      SELECT vals, n, s, c,
             list_reduce(
               list_prepend([0.0::DOUBLE, 0.0::DOUBLE],
                 list_transform(vals, v -> [
                   CASE WHEN abs(v - m{i}) <= c THEN 1.0::DOUBLE
                        ELSE c / abs(v - m{i}) END,
                   CASE WHEN abs(v - m{i}) <= c THEN v
                        ELSE (c / abs(v - m{i})) * v END])),
               (a, x) -> [a[1] + x[1], a[2] + x[2]]) AS fx
      FROM it{i}
    ),
    it{i + 1} AS (
      SELECT vals, n, s, c, fx[2] / fx[1] AS m{i + 1} FROM f{i}
    )"""


@_register(
    "huber_location_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        / 100000) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    agg AS (
      SELECT list(CAST(rev AS DOUBLE) ORDER BY day) AS vals,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev) AS BIGINT) AS sm,
             CAST(sum(rev * rev) AS BIGINT) AS sq
      FROM daily
    ),
    it0 AS (
      SELECT vals, n,
             sqrt((CAST(n AS DOUBLE) * sq - CAST(sm AS DOUBLE) * sm)
                  / (CAST(n AS DOUBLE) * n)) AS s,
             {_HUBER_C!r} * sqrt((CAST(n AS DOUBLE) * sq
                  - CAST(sm AS DOUBLE) * sm) / (CAST(n AS DOUBLE) * n))
               AS c,
             CAST(sm AS DOUBLE) / n AS m0
      FROM agg
    ),
    {",".join(_huber_layer_sql(i) for i in range(_HUBER_ITERS))}
    SELECT n AS n_days,
           floor(CAST((SELECT sm FROM agg) AS DOUBLE)
                 / n * 10000 + 0.5) / 10000.0 AS mean_kd,
           floor(s * 10000 + 0.5) / 10000.0 AS scale_kd,
           floor(m{_HUBER_ITERS} * 10000 + 0.5) / 10000.0
             AS huber_location_kd
    FROM it{_HUBER_ITERS}
    """,
    "Huber M-estimator of daily-revenue location via "
    f"{_HUBER_ITERS} unrolled IRLS passes (tuning constant "
    f"{_HUBER_C} x sigma from exact integer moments, start = mean): "
    "each pass is a weighted mean with w = min(1, c/|x-m|), run as "
    "an in-row fold over the day-ordered series so the two weighted "
    "sums accumulate in the identical order in both engines — the "
    "robust-location companion to `trimmed_mean_price_by_priority` "
    "/ `winsorize_bounds_lineitem` (which clip by rank; Huber "
    "downweights smoothly and is the textbook bridge between mean "
    "and median). Series units are kilodollars so the exact moment "
    "sums stay in int64 at any SF. Days-sized rollup, zero extra "
    "shuffle.",
    ("stats", "robust", "recurrence", "orders"),
)
def huber_location_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")) / 100000
        )
        .cast("long")
        .alias("rev")
    )
    agg = daily.agg(
        F.array_sort(
            F.collect_list(F.struct("day", F.col("rev").cast("double").alias("v")))
        ).alias("seq"),
        F.count("*").alias("n"),
        F.sum("rev").alias("sm"),
        F.sum(F.col("rev").cast("decimal(20,0)") * F.col("rev")).alias("sq"),
    )
    vals = F.transform(F.col("seq"), lambda x: x["v"])
    nD = F.col("n").cast("double")
    s = F.sqrt((nD * F.col("sq") - F.col("sm").cast("double") * F.col("sm")) / (nD * F.col("n")))
    c = F.lit(_HUBER_C) * s
    base = agg.select(
        "n",
        F.col("sm").alias("sm"),
        vals.alias("vals"),
        s.alias("s"),
        c.alias("c"),
        (F.col("sm").cast("double") / F.col("n")).alias("m0"),
    )
    def make_step(m, cc):
        # closure factory: a default-arg lambda would present extra
        # params to Spark's higher-order-function arity check
        def step(a, x):
            r = F.abs(x - m)
            w = F.when(r <= cc, F.lit(1.0)).otherwise(cc / r)
            wx = F.when(r <= cc, x).otherwise((cc / r) * x)
            return F.struct(
                (a["sw"] + w).alias("sw"), (a["swx"] + wx).alias("swx")
            )

        return step

    cur = base
    for i in range(_HUBER_ITERS):
        folded = F.aggregate(
            F.col("vals"),
            F.struct(F.lit(0.0).alias("sw"), F.lit(0.0).alias("swx")),
            make_step(F.col(f"m{i}"), F.col("c")),
        )
        cur = cur.withColumn(f"m{i + 1}", folded["swx"] / folded["sw"])
    r4 = lambda col: F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return cur.select(
        F.col("n").cast("long").alias("n_days"),
        r4(F.col("sm").cast("double") / F.col("n")).alias("mean_kd"),
        r4(F.col("s")).alias("scale_kd"),
        r4(F.col(f"m{_HUBER_ITERS}")).alias("huber_location_kd"),
    )


# ---------------------------------------------------------------------------
# Exact 1-D Wasserstein-1 distance: weekday vs weekend order prices
# ---------------------------------------------------------------------------


@_register(
    "wasserstein_price_weekday_weekend",
    """
    WITH labeled AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              + 4) % 7 IN (0, 6) AS weekend
      FROM orders
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT)
               AS n_we,
             CAST(sum(CASE WHEN weekend THEN 0 ELSE 1 END) AS BIGINT)
               AS n_wd
      FROM labeled
    ),
    vals AS (
      SELECT cents,
             CAST(sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT)
               AS c_we,
             CAST(sum(CASE WHEN weekend THEN 0 ELSE 1 END) AS BIGINT)
               AS c_wd
      FROM labeled GROUP BY 1
    ),
    cum AS (
      SELECT cents,
             lead(cents) OVER (ORDER BY cents) AS next_cents,
             CAST(sum(c_we) OVER (ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_we,
             CAST(sum(c_wd) OVER (ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_wd
      FROM vals
    ),
    segs AS (
      -- between consecutive support points the two empirical CDFs
      -- are constant, so W1 = sum over gaps of width * |F1 - F2|;
      -- |cum_we/n_we - cum_wd/n_wd| = |cum_we*n_wd - cum_wd*n_we|
      -- / (n_we*n_wd) keeps the numerator an exact integer
      SELECT (next_cents - cents)
             * abs(cum_we * t.n_wd - cum_wd * t.n_we) AS num,
             t.n_we * t.n_wd AS den
      FROM cum CROSS JOIN tot t
      WHERE next_cents IS NOT NULL
    )
    SELECT (SELECT n_we FROM tot) AS n_weekend,
           (SELECT n_wd FROM tot) AS n_weekday,
           CAST(sum(num) AS BIGINT) AS w1_numerator,
           CAST(max(den) AS BIGINT) AS w1_denominator,
           floor(sum(num) / CAST(max(den) AS DOUBLE) / 100.0 * 10000
                 + 0.5) / 10000.0 AS w1_dollars
    FROM segs
    """,
    "EXACT 1-D Wasserstein-1 (earth-mover) distance between the "
    "weekend and weekday order-price distributions: between "
    "consecutive support points both empirical CDFs are constant, "
    "so W1 = sum of gap-width x |F_we - F_wd| — and with the CDF "
    "difference kept as the integer |cum_we*n_wd - cum_wd*n_we| "
    "the entire integral is ONE exact integer divided once at the "
    "end (order-free integer SUM, no float accumulation anywhere). "
    "The transport metric completes the distribution-distance "
    "family: KS (`ks_statistic_value_by_type`) takes the max CDF "
    "gap, KL/JS weigh log-ratios, W1 integrates the gap — and is "
    "the one with units (dollars of movement). The ENGINE computes "
    "the integral via scale.py::cdf_area (range-partitioned support "
    "+ per-partition carry-ins — no single-partition window); the "
    "oracle states the same integer with a plain running-CDF "
    "window. Weekday convention is integer epoch-day arithmetic.",
    ("stats", "distribution", "transport", "orders"),
)
def wasserstein_price_weekday_weekend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    weekend = (
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            + 4
        )
        % 7
    ).isin(0, 6)
    labeled = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        weekend.alias("weekend"),
    )
    tot = labeled.agg(
        F.sum(F.when(F.col("weekend"), 1).otherwise(0)).alias("n_we"),
        F.sum(F.when(F.col("weekend"), 0).otherwise(1)).alias("n_wd"),
    )
    from ....operators.scale import cdf_area

    vals = labeled.groupBy("cents").agg(
        F.sum(F.when(F.col("weekend"), 1).otherwise(0)).alias("c_we"),
        F.sum(F.when(F.col("weekend"), 0).otherwise(1)).alias("c_wd"),
    )
    # scale.py::cdf_area computes the CDF-gap integral with range
    # partitioning + per-partition carry-ins — the oracle states the
    # same integral with a plain running-CDF window, but the ENGINE
    # never funnels the support through one partition
    area = cdf_area(vals, "cents", ("c_we", "c_wd"))
    # cdf_area returns the numerator as exact decimal(38,0); this
    # query's oracle contract is BIGINT, which the sf-bounded
    # cents×rows product fits comfortably
    return area.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.col("numerator").cast("long").alias("w1_numerator"),
        (F.col("n1") * F.col("n2")).cast("long").alias("w1_denominator"),
        (
            F.floor(
                F.col("numerator").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
                / 100.0
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("w1_dollars"),
    )
