"""Round-2 registry additions — time-series statistics, weighted
order statistics, categorical independence testing, ML feature prep,
entity-resolution survivorship, collocation mining, and the
interval/forward join family.

Same contract as ``registry.py``: every query is a DataFrame builder
paired with a DuckDB oracle (column names, types, and float rounding
aligned). Imported at the bottom of ``registry.py`` so the public
``queries()`` / ``oracle_sql()`` accessors see these automatically.

Determinism notes (same discipline as registry.py):
* per-group float sums are rounded BEFORE any further arithmetic so
  both engines continue from identical doubles;
* series-level folds (ACF) run left-to-right over day-sorted arrays
  (``F.aggregate`` ↔ ``list_reduce``) so float summation order is
  pinned cross-engine;
* every derived double is emitted through one deterministic
  expression over integers or pinned doubles, then
  ``floor(x*1e6+0.5)/1e6`` (or round4) stabilized.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.joins import asof_join, interval_overlap_join
from . import legs as _legs
from .registry import _kmeans_chain_ctes, _register, _t

_KMEANS_ORACLE = f"""
    WITH {_kmeans_chain_ctes()},
    joined AS (
      SELECT k.vec_id, k.cluster_id, k.centroid_sim, e.label
      FROM kassign k JOIN embeddings e USING (vec_id)
    ),
    top_label AS (
      SELECT cluster_id, label AS majority_label FROM (
        SELECT cluster_id, label,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY count(*) DESC, label) AS rn
        FROM joined GROUP BY cluster_id, label
      ) WHERE rn = 1
    ),
    stats AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
             floor(sum(CAST(round(centroid_sim * 1000000) AS BIGINT))
                   / (count(*) * 100.0) + 0.5) / 10000.0
               AS mean_centroid_sim,
             floor(min(centroid_sim) * 10000 + 0.5) / 10000.0
               AS min_centroid_sim
      FROM joined GROUP BY 1
    )
    SELECT s.cluster_id, s.n_vectors, s.mean_centroid_sim,
           s.min_centroid_sim, t.majority_label
    FROM stats s JOIN top_label t USING (cluster_id)
    """


def _r6(col):
    return F.floor(col * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


# ---------------------------------------------------------------------------
# Time-series statistics
# ---------------------------------------------------------------------------

@_register(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 4) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (SELECT list(rev ORDER BY day) AS arr FROM daily),
    m AS (
      SELECT arr, len(arr) AS n,
             list_reduce(arr, (a, x) -> a + x) / len(arr) AS mu
      FROM s
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(n AS INTEGER) AS n_days,
           floor(
             list_reduce(
               list_transform(range(1, n - lag + 1),
                              i -> (arr[i] - mu) * (arr[i + lag] - mu)),
               (a, b) -> a + b)
             / list_reduce(
               list_transform(range(1, n + 1),
                              i -> (arr[i] - mu) * (arr[i] - mu)),
               (a, b) -> a + b)
             * 1000000 + 0.5) / 1000000.0 AS acf
    FROM m, (SELECT unnest(range(1, 8)) AS lag)
    """,
    "Autocorrelation function (lags 1-7) of the daily revenue series: "
    "fact rows collapse to a days-sized rollup in ONE aggregate, then "
    "the whole ACF computes inside a single row via index-based "
    "higher-order folds over the day-sorted array — left-to-right "
    "summation pinned cross-engine, no per-lag self-joins. At 100 TB "
    "the series length is #days, so the fold side is O(1) regardless "
    "of corpus size",
    ("timeseries", "agg", "hof", "orders"),
)
def acf_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("rev")
    )
    one = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "rev"))), lambda s: s["rev"]
        ).alias("arr")
    )
    arr = F.col("arr")
    n = F.size(arr)
    mu = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / n
    lagged = one.select(
        arr.alias("arr"),
        n.alias("n"),
        mu.alias("mu"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    )
    num = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - F.col("lag")),
            lambda i: (F.element_at(arr, i) - F.col("mu"))
            * (F.element_at(arr, i + F.col("lag")) - F.col("mu")),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    den = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: (F.element_at(arr, i) - F.col("mu"))
            * (F.element_at(arr, i) - F.col("mu")),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return lagged.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("int").alias("n_days"),
        _r6(num / den).alias("acf"),
    )


@_register(
    "cusum_changepoint_daily_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT day, n_events,
             sum(n_events) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - row_number() OVER (ORDER BY day)
                 * (sum(n_events) OVER () / (count(*) OVER () * 1.0)) AS raw
      FROM daily
    )
    SELECT day, n_events,
           floor(raw * 1000000 + 0.5) / 1000000.0 AS cusum,
           abs(raw) = max(abs(raw)) OVER () AS is_changepoint
    FROM c
    """,
    "CUSUM changepoint screen over the daily event-count series: "
    "running sum of deviations from the global mean rate, flagging "
    "the day of maximum |drift|. Every value derives from integer "
    "counts through one float expression, so both engines agree "
    "bit-for-bit including the argmax flag. The windowed part runs "
    "over the #days-sized rollup, never fact rows",
    ("timeseries", "window", "quality", "events"),
)
def cusum_changepoint_daily_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events")
    )
    run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.partitionBy()
    raw = (
        F.sum("n_events").over(run)
        - F.row_number().over(Window.orderBy("day"))
        * (F.sum("n_events").over(full) / (F.count("*").over(full) * F.lit(1.0)))
    )
    c = daily.select("day", "n_events", raw.alias("raw"))
    return c.select(
        "day",
        "n_events",
        _r6(F.col("raw")).alias("cusum"),
        (F.abs("raw") == F.max(F.abs("raw")).over(Window.partitionBy())).alias(
            "is_changepoint"
        ),
    )


# ---------------------------------------------------------------------------
# Weighted order statistics
# ---------------------------------------------------------------------------

@_register(
    "weighted_median_price_by_brand",
    """
    WITH g AS (
      SELECT p_brand, l_extendedprice AS price,
             sum(l_quantity) AS wt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    c AS (
      SELECT p_brand, price, wt,
             sum(wt) OVER (PARTITION BY p_brand ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(wt) OVER (PARTITION BY p_brand) AS tot
      FROM g
    )
    SELECT p_brand,
           min(CASE WHEN cum >= tot / 2 THEN price END) AS weighted_median_price,
           CAST(max(tot) AS BIGINT) AS total_weight
    FROM c GROUP BY 1
    """,
    "Quantity-weighted median price per brand: per-(brand, price) "
    "weight rollup first (so the windowed pass runs over distinct "
    "prices, not fact rows), then a cumulative-weight window picks "
    "the first price covering half the total weight. Weights are "
    "integer-valued quantity sums — exact in both engines. One fact "
    "shuffle + one bounded window; the generalization of exact "
    "median to weighted distributions",
    ("agg", "window", "percentile", "lineitem", "part"),
)
def weighted_median_price_by_brand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_extendedprice").alias("price"))
        .agg(F.sum("l_quantity").alias("wt"))
    )
    cum_w = (
        Window.partitionBy("p_brand")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "p_brand",
        "price",
        "wt",
        F.sum("wt").over(cum_w).alias("cum"),
        F.sum("wt").over(Window.partitionBy("p_brand")).alias("tot"),
    )
    return c.groupBy("p_brand").agg(
        F.min(F.when(F.col("cum") >= F.col("tot") / 2, F.col("price"))).alias(
            "weighted_median_price"
        ),
        F.max("tot").cast("long").alias("total_weight"),
    )


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
# ML feature preparation
# ---------------------------------------------------------------------------

@_register(
    "target_encode_loo_brand",
    """
    WITH g AS (
      SELECT p_brand AS brand,
             CAST(count(*) AS BIGINT) AS cnt,
             round(sum(l_extendedprice), 4) AS sum4
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    )
    SELECT l_orderkey, l_linenumber, brand,
           CASE WHEN cnt > 1
                THEN round((sum4 - l_extendedprice) / (cnt - 1), 4)
           END AS loo_price_mean
    FROM lineitem JOIN part ON l_partkey = p_partkey
    JOIN g ON p_brand = brand
    """,
    "Leave-one-out target encoding of brand by mean extended price: "
    "the leakage-safe categorical encoder ((group_sum − own) / "
    "(n − 1)). Group sums are rounded once, so the per-row arithmetic "
    "continues from identical doubles in both engines. One grouped "
    "aggregate (cardinality = #brands) broadcast back over the fact "
    "scan — the fact table shuffles zero times",
    ("ml-prep", "encoding", "lineitem", "part"),
)
def target_encode_loo_brand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    fact = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", F.col("p_brand").alias("brand"),
        "l_extendedprice",
    )
    g = fact.groupBy("brand").agg(
        F.count("*").alias("cnt"), F.round(F.sum("l_extendedprice"), 4).alias("sum4")
    )
    enc = F.when(
        F.col("cnt") > 1,
        F.round((F.col("sum4") - F.col("l_extendedprice")) / (F.col("cnt") - 1), 4),
    )
    return fact.join(F.broadcast(g), "brand").select(
        "l_orderkey", "l_linenumber", "brand", enc.alias("loo_price_mean")
    )


@_register(
    "impute_median_by_type_events",
    """
    WITH masked AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v, event_type) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM masked WHERE v IS NOT NULL
    ),
    med AS (
      SELECT event_type, v AS median_v
      FROM ranked WHERE rn = (cnt + 1) // 2
    )
    SELECT event_id, m.event_type,
           m.v IS NULL AS was_imputed,
           round(coalesce(m.v, median_v), 4) AS value_filled
    FROM masked m JOIN med ON m.event_type = med.event_type
    """,
    "Missing-value imputation with the per-group exact lower median: "
    "values are deterministically masked (event_id % 17) to simulate "
    "nulls, the per-type median is picked by a rank window over "
    "non-null rows (deterministic tie order), and the tiny medians "
    "table broadcasts back over the scan. The data-cleaning stage of "
    "a feature pipeline; at 100 TB swap the exact rank for the KLL "
    "sketch quantile the engine also ships",
    ("ml-prep", "quality", "window", "events"),
)
def impute_median_by_type_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    masked = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    nn = masked.filter(F.col("v").isNotNull())
    w = Window.partitionBy("event_type").orderBy("v", "event_type")
    ranked = nn.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("cnt"),
    )
    med = ranked.filter(
        F.col("rn") == F.floor((F.col("cnt") + 1) / 2)
    ).select("event_type", F.col("v").alias("median_v"))
    return masked.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.col("v").isNull().alias("was_imputed"),
        F.round(F.coalesce("v", "median_v"), 4).alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# Entity-resolution survivorship (golden record)
# ---------------------------------------------------------------------------

@_register(
    "golden_record_customers",
    """
    WITH tagged AS (
      SELECT *, c_custkey % 500 AS entity_id FROM customer
    ),
    best AS (
      SELECT entity_id, c_name AS golden_name, c_acctbal AS golden_acctbal
      FROM (
        SELECT *, row_number() OVER (PARTITION BY entity_id
                 ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        FROM tagged
      ) WHERE rn = 1
    ),
    seg AS (
      SELECT entity_id, c_mktsegment AS top_segment
      FROM (
        SELECT entity_id, c_mktsegment,
               row_number() OVER (PARTITION BY entity_id
                 ORDER BY count(*) DESC, c_mktsegment) AS rn
        FROM tagged GROUP BY entity_id, c_mktsegment
      ) WHERE rn = 1
    ),
    stats AS (
      SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
             round(sum(c_acctbal), 4) AS total_acctbal
      FROM tagged GROUP BY 1
    )
    SELECT s.entity_id, golden_name, golden_acctbal, n_records,
           total_acctbal, top_segment
    FROM stats s JOIN best USING (entity_id) JOIN seg USING (entity_id)
    """,
    "Golden-record survivorship merge: duplicate customer records "
    "(entity = custkey % 500) collapse to one canonical row — "
    "best-balance row wins name/balance (deterministic tie order), "
    "the modal market segment wins (tie → smallest), plus per-entity "
    "record count and balance total. All three passes share ONE hash "
    "partitioning on entity_id; the final join touches entity-sized "
    "tables only. The survivorship stage that completes the "
    "blocking → scoring → merge entity-resolution pipeline",
    ("entity-resolution", "window", "agg", "customer"),
)
def golden_record_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    tagged = c.withColumn("entity_id", F.col("c_custkey") % 500)
    w = Window.partitionBy("entity_id").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").desc()
    )
    best = (
        tagged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "entity_id",
            F.col("c_name").alias("golden_name"),
            F.col("c_acctbal").alias("golden_acctbal"),
        )
    )
    seg_counts = tagged.groupBy("entity_id", "c_mktsegment").count()
    ws = Window.partitionBy("entity_id").orderBy(
        F.col("count").desc(), F.col("c_mktsegment")
    )
    seg = (
        seg_counts.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("entity_id", F.col("c_mktsegment").alias("top_segment"))
    )
    stats = tagged.groupBy("entity_id").agg(
        F.count("*").alias("n_records"),
        F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
    )
    return (
        stats.join(best, "entity_id")
        .join(seg, "entity_id")
        .select(
            "entity_id", "golden_name", "golden_acctbal", "n_records",
            "total_acctbal", "top_segment",
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining (PMI)
# ---------------------------------------------------------------------------

@_register(
    "pmi_bigrams_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    ucnt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY 1
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
      FROM toks WHERE len(t) >= 2
    ),
    bcnt AS (
      SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM bcnt)
    SELECT w1, w2, c_xy,
           floor(ln(c_xy * 1.0 * n / (u1.c_w * u2.c_w)) * 1000000 + 0.5)
             / 1000000.0 AS pmi
    FROM bcnt, tot
    JOIN ucnt u1 ON w1 = u1.w
    JOIN ucnt u2 ON w2 = u2.w
    WHERE c_xy >= 5
    """,
    "PMI collocation mining over adjacent token pairs: bigrams are "
    "extracted IN-ROW via an index higher-order transform (the "
    "token-sized explode never shuffles raw shingles), counted with "
    "map-side combine, and joined to the unigram vocabulary — "
    "vocabulary-sized tables, not corpus-sized. PMI derives from "
    "integer counts through one ln() expression; support floor ≥5 "
    "keeps the output the interesting collocations",
    ("text", "nlp", "agg", "documents"),
)
def pmi_bigrams_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda x: x != ""
        ).alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    bi = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w1"),
                    F.element_at(F.col("t"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    )
    bcnt = bi.groupBy(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).agg(F.count("*").alias("c_xy"))
    tot = bcnt.agg(F.sum("c_xy").alias("n"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    pmi = F.log(
        F.col("c_xy") * F.lit(1.0) * F.col("n") / (F.col("c_w1") * F.col("c_w2"))
    )
    return (
        bcnt.filter(F.col("c_xy") >= 5)
        .crossJoin(F.broadcast(tot))
        .join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", "c_xy", _r6(pmi).alias("pmi"))
    )


# ---------------------------------------------------------------------------
# Forward as-of join (time-to-conversion)
# ---------------------------------------------------------------------------

@_register(
    "asof_forward_time_to_purchase",
    """
    SELECT v.event_id, v.user_id, v.ts AS view_ts,
           p.ts AS next_purchase_ts,
           CASE WHEN p.ts IS NULL THEN NULL
                ELSE CAST(date_diff('second', v.ts, p.ts) AS BIGINT)
           END AS secs_to_purchase
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN
         (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND v.ts <= p.ts
    """,
    "Forward as-of join — every view matched to the user's NEXT "
    "purchase at or after it (time-to-conversion). Same union+window "
    "single-shuffle plan as the backward as-of (operators/joins.py::"
    "asof_join direction='forward'), never a range cross-join; the "
    "oracle is DuckDB's native forward ASOF. Completes the as-of "
    "family the reference's FK schema gestures at (SURVEY §2.4 J1)",
    ("join", "asof", "events", "timeseries"),
)
def asof_forward_time_to_purchase(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    j = asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=[],
        direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("ts_right").alias("next_purchase_ts"),
        F.when(
            F.col("ts_right").isNotNull(),
            F.col("ts_right").cast("timestamp").cast("long")
            - F.col("ts").cast("timestamp").cast("long"),
        ).alias("secs_to_purchase"),
    )


# ---------------------------------------------------------------------------
# Interval × interval overlap join
# ---------------------------------------------------------------------------

@_register(
    "interval_overlap_user_incidents",
    """
    WITH sess AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h, round(sum(value), 4) AS hv
      FROM events GROUP BY 1
    ),
    inc AS (
      SELECT h AS h_start, h + INTERVAL 3599 SECOND AS h_end
      FROM (
        SELECT h, row_number() OVER (ORDER BY hv DESC, h) AS rn FROM hourly
      ) WHERE rn <= 20
    )
    SELECT user_id, day, h_start AS incident_hour,
           CAST(date_diff('second',
                          greatest(s, h_start),
                          least(e, h_end)) AS BIGINT) AS overlap_seconds
    FROM sess JOIN inc
      ON s <= h_end AND h_start <= e
    """,
    "Interval × interval overlap join: per-user daily activity spans "
    "[min ts, max ts] × the top-20 high-value incident hours. Runs "
    "through operators/joins.py::interval_overlap_join — both sides "
    "explode into hour buckets, meet in a hash equi-join, and each "
    "pair is emitted exactly once from the bucket containing "
    "greatest(starts) (no post-join distinct). The oracle is the "
    "plain theta join, which at 100 TB would be a nested-loop "
    "non-starter",
    ("join", "range", "interval", "events"),
)
def interval_overlap_user_incidents(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    sess = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.round(F.sum("value"), 4).alias("hv")
    )
    inc = (
        hourly.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("hv").desc(), F.col("h")))
        )
        .filter(F.col("rn") <= 20)
        .select(
            F.col("h").alias("h_start"),
            (F.col("h").cast("long") + 3599).cast("timestamp").alias("h_end"),
        )
    )
    j = interval_overlap_join(sess, inc, "s", "e", "h_start", "h_end")
    return j.select(
        "user_id",
        "day",
        F.col("h_start").alias("incident_hour"),
        (
            F.least("e", "h_end").cast("long")
            - F.greatest("s", "h_start").cast("long")
        ).alias("overlap_seconds"),
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
# Rolling technical bands (integer-cent arithmetic, segment-tree safe)
# ---------------------------------------------------------------------------

@_register(
    "bollinger_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(round(sum(o_totalprice), 4) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    roll AS (
      SELECT day, cents,
             count(*) OVER w AS n,
             sum(cents) OVER w AS s,
             sum(cents * cents) OVER w AS q
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           cents / 100.0 AS revenue,
           CAST(n AS INTEGER) AS n_window,
           floor(s / (100.0 * n) * 1000000 + 0.5) / 1000000.0 AS ma7,
           CASE WHEN n > 1 THEN floor(
             sqrt((q / 10000.0 - (s / 100.0) * (s / 100.0) / n) / (n - 1))
             * 1000000 + 0.5) / 1000000.0 END AS sd7,
           CASE WHEN n > 1 THEN
             abs(cents / 100.0 - s / (100.0 * n)) >
               2 * sqrt((q / 10000.0 - (s / 100.0) * (s / 100.0) / n) / (n - 1))
           ELSE FALSE END AS outside_band
    FROM roll
    """,
    "Bollinger bands over the daily revenue series: 7-day rolling "
    "mean and sample stddev plus a ±2σ breakout flag. Daily revenue "
    "converts to INTEGER cents before the sliding sums, so the "
    "rolling window is exact under ANY summation order — immune to "
    "the segment-tree vs running-buffer difference between engines' "
    "sliding-frame implementations. Windowed pass runs over the "
    "#days-sized rollup only",
    ("timeseries", "window", "orders"),
)
def bollinger_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.floor(F.round(F.sum("o_totalprice"), 4) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    roll = daily.select(
        "day",
        "cents",
        F.count("*").over(w).alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(20,0)") * F.col("cents")
        ).over(w).alias("q"),
    )
    mean = F.col("s") / (F.lit(100.0) * F.col("n"))
    var = (
        F.col("q") / F.lit(10000.0)
        - (F.col("s") / 100.0) * (F.col("s") / 100.0) / F.col("n")
    ) / (F.col("n") - 1)
    sd = F.sqrt(var)
    return roll.select(
        "day",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        F.col("n").cast("int").alias("n_window"),
        _r6(mean).alias("ma7"),
        F.when(F.col("n") > 1, _r6(sd)).alias("sd7"),
        F.when(
            F.col("n") > 1,
            F.abs(F.col("cents") / F.lit(100.0) - mean) > 2 * sd,
        )
        .otherwise(F.lit(False))
        .alias("outside_band"),
    )


# ---------------------------------------------------------------------------
# Marketing attribution (chained as-of joins with channel priority)
# ---------------------------------------------------------------------------

@_register(
    "attribution_last_touch",
    """
    SELECT p.event_id, p.user_id,
           CASE WHEN c.ts IS NOT NULL THEN 'click'
                WHEN v.ts IS NOT NULL THEN 'view'
                ELSE 'direct' END AS channel,
           coalesce(c.ts, v.ts) AS attributed_ts,
           CASE WHEN coalesce(c.ts, v.ts) IS NOT NULL THEN
             CAST(date_diff('second', coalesce(c.ts, v.ts), p.ts) AS BIGINT)
           END AS secs_since_touch
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts FROM events
                    WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ASOF LEFT JOIN (SELECT user_id, ts FROM events
                    WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    "Last-touch marketing attribution: each purchase credits the "
    "user's most recent prior click, falling back to the most recent "
    "prior view, else 'direct'. Two chained backward as-of joins "
    "(union+window single-shuffle plans — the second reuses the same "
    "user_id partitioning), then a priority CASE. The composition "
    "pattern for multi-tier as-of enrichment",
    ("join", "asof", "attribution", "events"),
)
def attribution_last_touch(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    step1 = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=[], suffix="_click",
    )
    step2 = asof_join(
        step1, views, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=[], suffix="_view",
    )
    attributed = F.coalesce("ts_click", "ts_view")
    return step2.select(
        "event_id",
        "user_id",
        F.when(F.col("ts_click").isNotNull(), "click")
        .when(F.col("ts_view").isNotNull(), "view")
        .otherwise("direct")
        .alias("channel"),
        attributed.alias("attributed_ts"),
        F.when(
            attributed.isNotNull(),
            F.col("ts").cast("timestamp").cast("long")
            - attributed.cast("timestamp").cast("long"),
        ).alias("secs_since_touch"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (quantile binning)
# ---------------------------------------------------------------------------

@_register(
    "equi_depth_histogram_events",
    """
    WITH ranked AS (
      SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(value) AS lo,
           max(value) AS hi
    FROM ranked GROUP BY 1
    """,
    "Equi-depth (quantile) histogram of event values: ntile(10) over "
    "a deterministic total order (value, event_id tiebreak) gives "
    "ten equal-population buckets with their observed [lo, hi] "
    "bounds — the histogram a cost-based optimizer keeps for skewed "
    "columns, complementing the fixed-width histogram the registry "
    "already has. The ENGINE computes the buckets via scale.py::"
    "dense_ids (range-partitioned parallel sort + partition-offset "
    "ranks) and ntile's bin-size arithmetic — no single-partition "
    "window; the oracle states the same buckets with ntile. (A KLL "
    "sketch gives approximate boundaries in one pass when exact "
    "equi-depth isn't required.)",
    ("agg", "window", "histogram", "events"),
)
def equi_depth_histogram_events(spark, sf_dir):
    from ..operators.scale import dense_ids

    e = _t(spark, sf_dir, "events")
    proj = e.select("value", "event_id")
    ranked = dense_ids(proj, "value", "event_id", id_col="r")
    tot_n = proj.agg(F.count("*").alias("n_total"))
    base = F.floor(F.col("n_total") / 10)
    rem = F.col("n_total") % 10
    big = base + 1  # ntile: first (N mod 10) buckets get ceil(N/10)
    bucket = F.when(
        F.col("r") < rem * big, F.floor(F.col("r") / big) + 1
    ).otherwise(
        rem
        + F.floor((F.col("r") - rem * big) / F.greatest(base, F.lit(1)))
        + 1
    )
    binned = ranked.crossJoin(F.broadcast(tot_n)).select(
        "value", bucket.cast("int").alias("bucket")
    )
    return binned.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Graph: local clustering coefficient
# ---------------------------------------------------------------------------

@_register(
    "clustering_coefficient_nations",
    """
    WITH trade AS (
      SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                      greatest(c.c_nationkey, s.s_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM trade UNION ALL SELECT b FROM trade
      ) GROUP BY 1
    ),
    tris AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM trade e1
      JOIN trade e2 ON e1.b = e2.a
      JOIN trade e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    node_tri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
      ) GROUP BY 1
    )
    SELECT d.node AS nationkey, d.degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree > 1 THEN
             floor(2.0 * coalesce(t.n_triangles, 0)
                   / (d.degree * (d.degree - 1)) * 1000000 + 0.5) / 1000000.0
           ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN node_tri t ON d.node = t.node
    """,
    "Local clustering coefficient per nation on the trade graph "
    "(same canonical a<b edge set as the triangle counter): each "
    "triangle from the ordered 3-way self-join credits its three "
    "corners, coefficient = 2·T(v) / (deg(v)·(deg(v)−1)). Degrees "
    "and per-node triangle counts are node-sized aggregates; floats "
    "derive from integer counts only. Completes the graph suite "
    "(pagerank, components, BFS, k-core, triangles → coefficients)",
    ("graph", "join", "agg"),
)
def clustering_coefficient_nations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    trade = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(c["c_nationkey"] != s["s_nationkey"])
        .select(
            F.least(c["c_nationkey"], s["s_nationkey"]).alias("a"),
            F.greatest(c["c_nationkey"], s["s_nationkey"]).alias("b"),
        )
        .distinct()
        # the edge list is referenced 7× below (degree + three
        # triangle roles + corner unions); checkpoint so the 4-table
        # fact join runs ONCE, not per reference
        .localCheckpoint(eager=False)
    )
    deg = (
        trade.select(F.col("a").alias("node"))
        .unionAll(trade.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    e1, e2, e3 = trade.alias("e1"), trade.alias("e2"), trade.alias("e3")
    tris = e1.join(e2, F.col("e1.b") == F.col("e2.a")).join(
        e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b"))
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    node_tri = (
        tris.select(F.col("x").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    joined = deg.join(node_tri, "node", "left").select(
        F.col("node").alias("nationkey"),
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )
    coeff = F.when(
        F.col("degree") > 1,
        _r6(
            F.lit(2.0)
            * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1))
        ),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "nationkey", "degree", "n_triangles", coeff.alias("clustering_coeff")
    )


# ---------------------------------------------------------------------------
# Materialized-view rewrite (summary-table acceleration, plans/mv.py)
# ---------------------------------------------------------------------------

@_register(
    "mv_rewrite_daily_value_stats",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           floor(round(sum(value), 2) / count(*) * 1000000 + 0.5)
             / 1000000.0 AS avg_value
    FROM events GROUP BY 1, 2
    """,
    "Summary-table acceleration proved sound end-to-end: an HOURLY "
    "mergeable-partials summary (plans/mv.py::SummaryTable) is built "
    "once, then a DAILY per-type stats request is answered by QUERY "
    "REWRITE over the partials — while the oracle recomputes the "
    "truth from raw fact rows. Count/min/max merge exactly; the "
    "re-summed sum rounds to cents; avg derives from the rounded sum "
    "so both engines divide identical doubles. At 100 TB the rewrite "
    "reads ~10⁵ summary rows instead of the fact table",
    ("mv", "rewrite", "agg", "events"),
)
def mv_rewrite_daily_value_stats(spark, sf_dir):
    import tempfile

    from .mv import AggRequest, SummaryTable

    e = _t(spark, sf_dir, "events")
    summary = SummaryTable(
        path=tempfile.mkdtemp(prefix="mv_events_") + "/hourly",
        time_col="ts",
        value_col="value",
        keys=("event_type",),
        grain="hour",
    )
    summary.build(e)
    req = AggRequest(
        grain="day",
        keys=("event_type",),
        measures=("n_rows", "sum_value", "min_value", "max_value"),
    )
    hit = summary.try_rewrite(spark, req)
    if hit is None:  # pragma: no cover - rewrite must trigger here
        raise RuntimeError("summary rewrite unexpectedly refused the request")
    sum2 = F.round("sum_value", 2)
    return hit.select(
        F.to_date("bucket").alias("day"),
        "event_type",
        "n_rows",
        sum2.alias("sum_value"),
        "min_value",
        "max_value",
        _r6(sum2 / F.col("n_rows")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ∪ dense cosine fused by reciprocal-rank fusion
# ---------------------------------------------------------------------------

def _rrf_oracle() -> str:
    from .registry import _BM25_B, _BM25_K1, _BM25_QUERY

    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
    stats AS (SELECT avg(dlen) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM toks
      WHERE w IN {_BM25_QUERY!r}
      GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    bm25 AS (
      SELECT tf.doc_id,
             sum(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dlen / s.avgdl))
             ) AS score
      FROM tf
      JOIN df USING (w)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    sparse AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS sparse_rank
      FROM bm25
      QUALIFY sparse_rank <= 20
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT c.vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY list_cosine_similarity(q.emb,
                        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
             ) AS INTEGER) AS dense_rank
      FROM embeddings c, q WHERE c.vec_id <> 0
      QUALIFY dense_rank <= 20
    )
    SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
           s.sparse_rank, d.dense_rank,
           floor((coalesce(1.0 / (60 + s.sparse_rank), 0.0)
                  + coalesce(1.0 / (60 + d.dense_rank), 0.0))
                 * 1000000 + 0.5) / 1000000.0 AS rrf_score
    FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    """


@_register(
    "hybrid_search_rrf",
    _rrf_oracle(),
    "Hybrid retrieval: the BM25 sparse list (same scorer/constants as "
    "bm25_search_documents) and the exact-cosine dense list for query "
    "vector 0 are fused by reciprocal-rank fusion "
    "(Σ 1/(60+rank)) — the standard fusion used when lexical and "
    "embedding retrieval disagree. Each list is its own top-20 "
    "pipeline (broadcast stats / per-partition top-k heaps); the "
    "fusion join touches 2k rows, ranks are integers so the fused "
    "score is bit-deterministic cross-engine",
    ("retrieval", "hybrid", "rrf", "documents", "embeddings"),
)
def hybrid_search_rrf(spark, sf_dir):
    from ..operators.similarity import brute_force_topk
    from .registry import bm25_search_documents

    sparse = (
        bm25_search_documents(spark, sf_dir)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
            .cast("int")
            .alias("sparse_rank"),
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    dense = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("int").alias("dense_rank"),
        )
    )
    fused = sparse.join(dense, "doc_id", "full_outer")
    rrf = F.coalesce(1.0 / (60 + F.col("sparse_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("dense_rank")), F.lit(0.0)
    )
    return fused.select(
        "doc_id", "sparse_rank", "dense_rank", _r6(rrf).alias("rrf_score")
    )


# ---------------------------------------------------------------------------
# Conversion-latency percentiles (integer order statistics per cohort)
# ---------------------------------------------------------------------------

@_register(
    "conversion_latency_percentiles",
    """
    WITH conv AS (
      SELECT dayofweek(v.ts) + 1 AS view_dow,
             CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS secs
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      ASOF JOIN (SELECT user_id, ts FROM events
                 WHERE event_type = 'purchase') p
        ON v.user_id = p.user_id AND v.ts <= p.ts
    ),
    arrs AS (
      SELECT view_dow, list(secs ORDER BY secs) AS a,
             CAST(count(*) AS BIGINT) AS n
      FROM conv GROUP BY 1
    )
    SELECT CAST(view_dow AS INTEGER) AS view_dow, n,
           a[CAST(ceil(n * 0.5) AS BIGINT)] AS p50_secs,
           a[CAST(ceil(n * 0.9) AS BIGINT)] AS p90_secs
    FROM arrs
    """,
    "Time-to-conversion percentiles: views matched to the next "
    "purchase (forward as-of), latencies grouped by view weekday, "
    "exact lower p50/p90 picked by index from the sorted per-cohort "
    "array. Latencies are INTEGER seconds, so the order statistics "
    "are exact in both engines with zero float discipline. The "
    "funnel-latency SLA report built from the as-of family",
    ("timeseries", "percentile", "asof", "events"),
)
def conversion_latency_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    j = asof_join(
        views, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=[], direction="forward",
    ).filter(F.col("ts_right").isNotNull())
    conv = j.select(
        F.dayofweek("ts").alias("view_dow"),
        (
            F.col("ts_right").cast("timestamp").cast("long")
            - F.col("ts").cast("timestamp").cast("long")
        ).alias("secs"),
    )
    arrs = conv.groupBy("view_dow").agg(
        F.sort_array(F.collect_list("secs")).alias("a"),
        F.count("*").alias("n"),
    )
    return arrs.select(
        F.col("view_dow").cast("int").alias("view_dow"),
        "n",
        F.element_at("a", F.ceil(F.col("n") * 0.5).cast("int")).alias("p50_secs"),
        F.element_at("a", F.ceil(F.col("n") * 0.9).cast("int")).alias("p90_secs"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonality (integer-cent seasonal indices)
# ---------------------------------------------------------------------------

@_register(
    "seasonal_index_weekday_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
             CAST(floor(round(sum(o_totalprice), 4) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    g AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS dow_cents
      FROM daily GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(dow_cents) AS BIGINT) AS all_cents,
             CAST(sum(n_days) AS BIGINT) AS all_days
      FROM g
    )
    SELECT CAST(dow AS INTEGER) AS dow, n_days,
           dow_cents / 100.0 AS dow_revenue,
           floor((dow_cents * 1.0 / n_days) / (all_cents * 1.0 / all_days)
                 * 1000000 + 0.5) / 1000000.0 AS seasonal_index
    FROM g CROSS JOIN tot
    """,
    "Weekday seasonality indices of revenue (mean daily revenue per "
    "day-of-week over the global mean): daily sums convert to "
    "integer cents first, so every downstream ratio derives from "
    "integers and both engines agree exactly. The deseasonalization "
    "input for the Holt/anomaly operators; two tiny aggregates past "
    "the one fact-keyed rollup",
    ("timeseries", "agg", "orders"),
)
def seasonal_index_weekday_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.dayofweek(F.to_date("o_orderdate")).alias("dow"),
    ).agg(
        F.floor(F.round(F.sum("o_totalprice"), 4) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    g = daily.groupBy("dow").agg(
        F.count("*").alias("n_days"), F.sum("cents").alias("dow_cents")
    )
    tot = g.agg(
        F.sum("dow_cents").alias("all_cents"), F.sum("n_days").alias("all_days")
    )
    idx = (F.col("dow_cents") * F.lit(1.0) / F.col("n_days")) / (
        F.col("all_cents") * F.lit(1.0) / F.col("all_days")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("int").alias("dow"),
        "n_days",
        (F.col("dow_cents") / F.lit(100.0)).alias("dow_revenue"),
        _r6(idx).alias("seasonal_index"),
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
# SCD2 temporal (point-in-time) join
# ---------------------------------------------------------------------------

@_register(
    "scd2_point_in_time_join",
    """
    WITH labeled AS (
      SELECT o_custkey, o_totalprice,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' THEN 2
                  WHEN o_orderdate >= TIMESTAMP '1996-01-01' THEN 1
                  ELSE 0 END AS v
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    )
    SELECT c_mktsegment || '#v' || CAST(v AS VARCHAR) AS seg_version,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM labeled JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    "Temporal (point-in-time) join against the SCD2 history lake: "
    "three deterministic yearly versions of every customer are "
    "upserted through Scd2Table (streaming/scd2.py — validity "
    "intervals derived by the table, not by this query), then each "
    "order joins the version VALID AT ITS ORDER DATE. The oracle "
    "recomputes the truth declaratively from the version calendar, "
    "so interval closure/chaining in the lake layout is what is "
    "being checked. Equi-join on the key + interval predicate — one "
    "shuffle, no range blowup",
    ("scd2", "temporal-join", "lake", "orders", "customer"),
)
def scd2_point_in_time_join(spark, sf_dir):
    import tempfile

    from ..streaming.scd2 import Scd2Table

    c = _t(spark, sf_dir, "customer")
    table = Scd2Table(
        path=tempfile.mkdtemp(prefix="scd2_pit_") + "/cust",
        record_key="c_custkey",
        precombine_field="pts",
    )
    for v, ts in enumerate(("1995-01-01", "1996-01-01", "1997-01-01")):
        batch = c.select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit(f"#v{v}")).alias("seg_version"),
            F.lit(ts).cast("timestamp").alias("pts"),
        )
        table.upsert_batch(batch, spark)
    versions = table.read_history(spark).select(
        "c_custkey", "seg_version", "_valid_from", "_valid_to"
    )
    o = _t(spark, sf_dir, "orders")
    j = o.join(
        versions,
        (o["o_custkey"] == versions["c_custkey"])
        & (F.col("_valid_from") <= o["o_orderdate"])
        & (F.col("_valid_to").isNull() | (o["o_orderdate"] < F.col("_valid_to"))),
    )
    return j.groupBy("seg_version").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib proxy for repetition/entropy)
# ---------------------------------------------------------------------------

# Calibration corpus for the compression-ratio oracle row: three
# fixed ASCII texts spanning the compressibility spectrum, with
# their zlib-level-6 DEFLATE sizes pinned as literals (computed once
# with the pinned settings; DEFLATE itself is not SQL-expressible,
# but its output on a KNOWN input is a constant the oracle can
# state). CAL3 is a deterministic md5-chain hex string (low
# compressibility), reproduced in tests from the same seed.
_CAL1 = "a" * 2000  # degenerate repetition   → 23 bytes (ratio 0.0115)
_CAL2 = (
    (
        "the quick brown fox jumps over the lazy dog while a large "
        "scale training corpus pipeline measures entropy and "
        "repetition with a cheap deflate proxy signal "
    )
    * 8
)[:1000]  # prose-like                        → 131 bytes (ratio 0.131)


def _cal3() -> str:
    import hashlib

    h, parts = b"spark-graft-cal3", []
    for _ in range(16):
        h = hashlib.md5(h).digest()
        parts.append(h.hex())
    return "".join(parts)  # 512 hex chars     → 294 bytes (ratio 0.574219)


@_register(
    "compression_ratio_documents",
    """
    WITH corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS corpus_docs,
             TRUE AS corpus_mean_ok
      FROM documents
    ),
    calib(doc_id, n_chars, compressed_bytes, compression_ratio) AS (
      VALUES
        (CAST(-1 AS BIGINT), CAST(2000 AS BIGINT),
         CAST(23 AS BIGINT), CAST(0.0115 AS DOUBLE)),
        (CAST(-2 AS BIGINT), CAST(1000 AS BIGINT),
         CAST(131 AS BIGINT), CAST(0.131 AS DOUBLE)),
        (CAST(-3 AS BIGINT), CAST(512 AS BIGINT),
         CAST(294 AS BIGINT), CAST(0.574219 AS DOUBLE))
    )
    SELECT calib.*, corpus.* FROM calib CROSS JOIN corpus
    """,
    "Compression-ratio quality signal: per-document "
    "len(zlib(text))/len(text) via one Arrow-batched mapInPandas "
    "pass — the Gopher/Dolma-style cheap proxy for boilerplate and "
    "repetition (highly repetitive documents compress far below "
    "typical prose). Deterministic (zlib level pinned), zero "
    "shuffles. Full oracle row since r5 (was rows-only): three "
    "fixed calibration texts spanning the compressibility spectrum "
    "(degenerate repetition / prose / md5-chain hex) ride through "
    "the SAME production pass unioned into the corpus, and their "
    "exact DEFLATE byte counts are pinned as oracle literals — a "
    "level/encoding/rounding regression breaks the bit-exact match; "
    "the corpus side stays in the plan via SQL-derivable corpus_docs "
    "and the <=0.9 mean-ratio ceiling boolean (per-document corpus "
    "values remain graded by the bounds/determinism companion "
    "`compression_ratio_floor`, registry55)",
    ("text", "quality", "pandas_udf", "documents"),
)
def compression_ratio_documents(spark, sf_dir):
    from ..functions.text import compression_ratio

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    calib = d.sparkSession.createDataFrame(
        [(-1, _CAL1), (-2, _CAL2), (-3, _cal3())],
        "doc_id long, text string",
    )
    # Same production pass for both branches, but each corpus payload
    # is compressed exactly ONCE: the 3-row calibration frame and the
    # corpus aggregate run as separate invocations of the same
    # operator rather than filtering a shared union twice (an
    # uncached DataFrame referenced by two branches re-executes its
    # whole lineage per branch — 2× the zlib scan for nothing).
    corpus = compression_ratio(d, text_col="text", id_col="doc_id").agg(
        F.count("*").cast("long").alias("corpus_docs"),
        (F.avg("compression_ratio") <= 0.9).alias("corpus_mean_ok"),
    )
    return compression_ratio(
        calib, text_col="text", id_col="doc_id"
    ).crossJoin(corpus)


# ---------------------------------------------------------------------------
# Sliding 7-day distinct users: exact (bounded explode) + HLL sketch merge
# ---------------------------------------------------------------------------

@_register(
    "sliding_distinct_users_7d",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    contrib AS (
      SELECT d2.day AS day, du.user_id
      FROM du JOIN days d2
        ON d2.day >= du.day AND d2.day <= du.day + INTERVAL 6 DAY
    )
    SELECT day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM contrib GROUP BY 1
    """,
    "EXACT trailing-7-day distinct users per day. Sliding distinct "
    "does not decompose into mergeable per-day partials, so the "
    "standard rewrite applies: dedup to (day, user) pairs first "
    "(fact-sized shuffle ONCE), then each pair contributes to ≤7 "
    "window anchor days via a bounded explode, and one distinct "
    "count per anchor finishes it. Cost is 7×|day-user pairs|, not "
    "7×|events| — and never a per-day rescan of the fact table",
    ("window", "distinct", "timeseries", "events"),
)
def sliding_distinct_users_7d(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct().withColumnRenamed("day", "anchor")
    contrib = du.join(
        F.broadcast(days),
        (F.col("anchor") >= F.col("day"))
        & (F.col("anchor") <= F.date_add(F.col("day"), 6)),
    )
    return contrib.groupBy(F.col("anchor").alias("day")).agg(
        F.countDistinct("user_id").alias("users_7d")
    )


@_register(
    "sliding_distinct_users_7d_hll",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    contrib AS (
      SELECT d2.day AS day, du.user_id
      FROM du JOIN days d2
        ON d2.day >= du.day AND d2.day <= du.day + INTERVAL 6 DAY
    )
    SELECT day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d_exact,
           TRUE AS est_within_5pct
    FROM contrib GROUP BY 1
    """,
    "Sketch path for the trailing-7-day distinct-user metric: ONE "
    "HLL sketch per day (mergeable DataSketches state, lgK=12), "
    "then a 7-row sliding window folds the day sketches with "
    "hll_union and estimates. At 100 TB this is the production "
    "shape — per-day sketch build is a map-side-combinable "
    "aggregate over the fact table, and the windowed merge touches "
    "#days × sketch_bytes regardless of cardinality (the global "
    "window runs over per-DAY rows, calendar-bounded, never fact "
    "rows). Full oracle row since r5 (was rows-only — sketch "
    "images are engine-internal, so the raw estimate column cannot "
    "hash-match DuckDB): every per-day estimate is graded against "
    "the exact bounded-explode rewrite IN the output — "
    "(day, users_7d_exact, est_within_5pct) — with the oracle "
    "computing the exact side and pinning the per-day 5% lgK=12 "
    "envelope booleans. Strictly stronger than the aggregate "
    "companion `hll_sliding_error_bound` (registry54): a single "
    "bad anchor day now flips its own driver-visible row",
    ("window", "sketch", "distinct", "timeseries", "events"),
)
def sliding_distinct_users_7d_hll(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    rolled = daily.select(
        "day", F.collect_list("sk").over(w).alias("sks")
    )
    est = F.expr(
        "hll_sketch_estimate("
        "aggregate(slice(sks, 2, size(sks) - 1), sks[0], (a, x) -> hll_union(a, x))"
        ")"
    )
    est_df = rolled.select("day", est.cast("double").alias("est7"))
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct().withColumnRenamed("day", "anchor")
    exact = (
        du.join(
            F.broadcast(days),
            (F.col("anchor") >= F.col("day"))
            & (F.col("anchor") <= F.date_add(F.col("day"), 6)),
        )
        .groupBy(F.col("anchor").alias("day"))
        .agg(F.countDistinct("user_id").alias("users_7d_exact"))
    )
    return exact.join(est_df, "day").select(
        "day",
        F.col("users_7d_exact").cast("long").alias("users_7d_exact"),
        (
            F.abs(F.col("est7") - F.col("users_7d_exact"))
            / F.col("users_7d_exact")
            <= 0.05
        ).alias("est_within_5pct"),
    )


# ---------------------------------------------------------------------------
# ALS collaborative filtering (iterative distributed factorization)
# ---------------------------------------------------------------------------


def _als_oracle_sql() -> str | None:
    """LAZY oracle for als_recommend_parts (r6: rows-only → full
    oracle row). The rank-8/2-iteration trainer is REPLAYED
    independently in single-process numpy — deterministic init via
    the JVM-parity xxhash64 port (functions/xxh64.py, pinned by
    tests/test_xxh64.py), identical alternation/ridge algebra, exact
    integer quantity sums — and the resulting factors are embedded
    as per-fixture literals (selected by an exact-integer pair-count
    + checksum). The SERVE stage (score every unseen item per cohort
    user, rank, top-3) is then plain SQL over the raw tables, so the
    oracle validates the distributed trainer end-to-end against an
    independent implementation AND the serve join against relational
    algebra. Cross-path factor noise is ~1e-12 (float-sum order),
    far inside the 4-decimal score rounding; exact score ties are
    broken by item_id on both sides."""
    return _als_oracle_sql_cached()


def _als_replay(sf_dir: str):
    import numpy as np
    import pyarrow.parquet as pq

    from ..functions.xxh64 import xxhash64

    li = (
        pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_orderkey", "l_partkey", "l_quantity"],
        )
        .to_pandas()
    )
    o = (
        pq.read_table(
            f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
        )
        .to_pandas()
    )
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    g = (
        m.groupby(["o_custkey", "l_partkey"], sort=True)["l_quantity"]
        .sum()
        .reset_index()
    )
    user_ids = g["o_custkey"].to_numpy(dtype=np.int64)
    item_ids = g["l_partkey"].to_numpy(dtype=np.int64)
    # quantities are integral → the sum is order-free exact, so the
    # ratings match Spark's groupBy bit-for-bit
    r = np.log1p(g["l_quantity"].to_numpy(dtype=np.float64))
    chk = int((user_ids * 7 + item_ids).sum())
    users = np.unique(user_ids)
    items = np.unique(item_ids)
    u_of = np.searchsorted(users, user_ids)
    i_of = np.searchsorted(items, item_ids)
    k, lam, seed = 8, 0.1, 7

    def init(ids: np.ndarray, s: int) -> np.ndarray:
        return np.array(
            [
                [
                    (
                        xxhash64(("long", int(e)), ("int", j), ("int", s))
                        % 1000
                    )
                    / 10000.0
                    - 0.05
                    for j in range(k)
                ]
                for e in ids
            ],
            dtype=np.float64,
        )

    item_f = init(items, seed)
    user_f = init(users, seed + 1)
    lam_eye = lam * np.eye(k)

    def solve(fixed_f, fix_idx, sol_idx, n_sol):
        order = np.argsort(sol_idx, kind="stable")
        P = fixed_f[fix_idx][order]
        rr = r[order]
        groups = sol_idx[order]
        starts = np.flatnonzero(
            np.r_[True, groups[1:] != groups[:-1]]
        )
        outer = (P[:, :, None] * P[:, None, :]).reshape(len(P), k * k)
        A = np.add.reduceat(outer, starts, axis=0).reshape(-1, k, k)
        b = np.add.reduceat(P * rr[:, None], starts, axis=0)
        out = np.zeros((n_sol, k))
        out[groups[starts]] = np.linalg.solve(A + lam_eye, b)
        return out

    for _ in range(2):
        user_f = solve(item_f, i_of, u_of, len(users))
        item_f = solve(user_f, u_of, i_of, len(items))
    cohort = users % 300 == 0
    return {
        "n": int(len(g)),
        "chk": chk,
        "users": users[cohort],
        "user_f": user_f[cohort],
        "items": items,
        "item_f": item_f,
    }


@_functools.lru_cache(maxsize=1)
def _als_oracle_sql_cached() -> str | None:
    fixtures = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        try:
            fixtures.append(_als_replay(f"/root/testdata/{sf}"))
        except Exception:  # noqa: BLE001
            continue
    if not fixtures:
        return None

    def fvals(fi, ids, mat):
        return ", ".join(
            "('f%d', %d, %s)"
            % (fi, int(e), ", ".join(repr(float(v)) for v in row))
            for e, row in zip(ids, mat)
        )

    uf_vals = ", ".join(
        fvals(fi, fx["users"], fx["user_f"])
        for fi, fx in enumerate(fixtures)
    )
    itf_vals = ", ".join(
        fvals(fi, fx["items"], fx["item_f"])
        for fi, fx in enumerate(fixtures)
    )
    sel_case = " ".join(
        f"WHEN n = {fx['n']} AND chk = {fx['chk']} THEN 'f{fi}'"
        for fi, fx in enumerate(fixtures)
    )
    score = "0.0"
    for j in range(1, 9):
        score = f"({score} + u{j} * v{j})"
    ucols = ", ".join(f"u{j}" for j in range(1, 9))
    vcols = ", ".join(f"v{j}" for j in range(1, 9))
    return f"""
    WITH pairs AS (
      SELECT o.o_custkey AS user_id, l.l_partkey AS item_id
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    sel AS (
      SELECT count(*) AS n, SUM(user_id * 7 + item_id) AS chk FROM pairs
    ),
    fkey AS (SELECT CASE {sel_case} ELSE 'f0' END AS k FROM sel),
    uf(f, user_id, {ucols}) AS (VALUES {uf_vals}),
    itf(f, item_id, {vcols}) AS (VALUES {itf_vals}),
    scored AS (
      SELECT u.user_id, i.item_id, {score} AS score
      FROM uf u JOIN fkey ON u.f = fkey.k
      JOIN itf i ON i.f = fkey.k
    ),
    unseen AS (
      SELECT s.user_id, s.item_id, s.score
      FROM scored s ANTI JOIN pairs p USING (user_id, item_id)
    ),
    ranked AS (
      SELECT user_id, item_id, score,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY score DESC, item_id) AS rnk
      FROM unseen
    )
    SELECT user_id, item_id, round(score, 4) AS score,
           CAST(rnk AS INTEGER) AS rank
    FROM ranked WHERE rnk <= 3
    """


# The two ALS queries each pay a full rank-8 / 2-iteration training
# run (~36 s + ~22 s at sf0.1) over the same ratings matrix —
# als_recommend_parts on raw log1p ratings, als_rmse_floor on the
# MEAN-CENTERED ratings (different algebra, so the factor tables are
# distinct). Guide §5 (reused AND expensive): the trained factors are
# entity-count-sized (KBs per million entities at rank 8) while the
# trainer is the whole cost, so the factors go through the shared-leg
# cache, keyed by the ratings frame itself: its plan carries the
# ratings prep (log1p, mean-centering), its scans the input files;
# parquet round-trips float64 arrays exactly, so served factors are
# bit-identical to freshly trained ones.
def _train_als_factors(ratings):
    from ..operators import als as _als

    user_f, item_f = _als.als_train(ratings, rank=8, iterations=2)
    return user_f.select(
        F.lit("u").alias("side"),
        F.col("user_id").alias("eid"),
        "factors",
    ).unionByName(
        item_f.select(
            F.lit("i").alias("side"),
            F.col("item_id").alias("eid"),
            "factors",
        )
    )


def _als_factors_leg(spark, ratings):
    both = _legs.leg(spark, ratings, _train_als_factors)
    user_f = both.filter(F.col("side") == "u").select(
        F.col("eid").alias("user_id"), "factors"
    )
    item_f = both.filter(F.col("side") == "i").select(
        F.col("eid").alias("item_id"), "factors"
    )
    return user_f, item_f


@_register(
    "als_recommend_parts",
    _als_oracle_sql,
    "ALS collaborative filtering over the customer × part purchase "
    "matrix (operators/als.py): normal-equation terms assembled by a "
    "position-exploded grouped sum (shuffle = #entities × k² rows, "
    "no factor broadcast/collect), per-entity k×k solves in one "
    "Arrow pass, deterministic init — then top-3 novel part "
    "recommendations for a fixed user cohort. Convergence, planted- "
    "structure recovery, bit-determinism, and novelty are pytest- "
    "pinned. FULL oracle row since r6 (was rows-only): the lazy "
    "oracle replays the trainer independently in numpy (xxhash64 "
    "port for the init, identical alternation) and embeds the "
    "factors as literals, serving in SQL — see _als_oracle_sql. The "
    "driver-visible oracle row `als_rmse_floor` (registry54) pins "
    "train-RMSE ≤ 1.02× the global-mean baseline",
    ("ml", "als", "recommender", "iterative", "lineitem"),
)
def als_recommend_parts(spark, sf_dir):
    from ..operators.als import als_recommend

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ratings = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(F.log1p(F.sum("l_quantity")).alias("rating"))
    ).cache()
    user_f, item_f = _als_factors_leg(spark, ratings)
    cohort = user_f.filter(F.col("user_id") % 300 == 0)
    recs = als_recommend(
        cohort, item_f, ratings.select("user_id", "item_id"), k=3
    )
    ratings.unpersist()
    return recs


# ---------------------------------------------------------------------------
# Spherical k-means cluster audit
# ---------------------------------------------------------------------------

@_register(
    "kmeans_embedding_clusters",
    _KMEANS_ORACLE,
    "Spherical k-means over the embeddings (operators/similarity.py::"
    "kmeans_assign — the IVF/SemDeDup coarse quantizer exposed as a "
    "first-class clustering operator): bounded lowest-id-sample "
    "training, broadcast centroids, zero-shuffle Arrow assignment; "
    "this query audits the clustering (per-cluster size, mean/min "
    "similarity to centroid, majority label). ORACLE (new in r4, was "
    "rows-only): the quantizer is fully replayable — the DuckDB twin "
    "(_kmeans_chain_ctes) re-derives centroids and assignments, and "
    "the per-cluster stats use exact integer micro-sims for the mean "
    "so both engines round identically. The driver-visible "
    "`kmeans_inertia_floor` (registry54) additionally pins mean "
    "centroid-cosine 0.15 above the k=1 null",
    ("ml", "kmeans", "clustering", "embeddings"),
)
def kmeans_embedding_clusters(spark, sf_dir):
    from ..operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, n_clusters=16)
    joined = assigned.join(emb.select("vec_id", "label"), "vec_id")
    per_label = joined.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n")
    )
    top_label = per_label.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n").desc(), F.col("label")
            )
        ),
    ).filter(F.col("rn") == 1).select(
        "cluster_id", F.col("label").alias("majority_label")
    )
    stats = joined.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        # exact integer micro-sims -> order-free sum -> one rounding:
        # the identical formula in the DuckDB twin hash-matches
        (
            F.floor(
                F.sum(F.round(F.col("centroid_sim") * 1000000).cast("long"))
                / (F.count("*") * F.lit(100.0))
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("mean_centroid_sim"),
        (
            F.floor(F.min("centroid_sim") * 10000 + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("min_centroid_sim"),
    )
    return stats.join(top_label, "cluster_id")


# ---------------------------------------------------------------------------
# Key-space completeness audit (gap ranges)
# ---------------------------------------------------------------------------

@_register(
    "eventid_gap_ranges",
    """
    WITH k AS (SELECT DISTINCT event_id AS key FROM events
               WHERE event_type = 'purchase'),
    n AS (
      SELECT key, lead(key) OVER (ORDER BY key) AS nxt FROM k
    )
    SELECT key + 1 AS gap_start, nxt - 1 AS gap_end,
           CAST(nxt - key - 1 AS BIGINT) AS gap_len
    FROM n WHERE nxt IS NOT NULL AND nxt - key > 1
    """,
    "Key-space completeness audit: contiguous missing-id ranges in "
    "the purchase stream via one lead() pass over the distinct "
    "sorted keys — the sequence-gap detector for CDC feeds (a gap "
    "in a monotonically assigned key usually means dropped "
    "changes). Scale note: the global-order window runs over "
    "DISTINCT keys after a map-side-combined dedup; for a truly "
    "dense 100 TB key space, range-partition the keys and lead() "
    "within ranges, stitching boundaries with one extra pass over "
    "#partitions rows",
    ("window", "quality", "cdc", "events"),
)
def eventid_gap_ranges(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("key"))
        .distinct()
    )
    nxt = F.lead("key").over(Window.orderBy("key"))
    n = k.select("key", nxt.alias("nxt"))
    return n.filter(
        F.col("nxt").isNotNull() & (F.col("nxt") - F.col("key") > 1)
    ).select(
        (F.col("key") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("key") - 1).alias("gap_len"),
    )


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
# MATCH_RECOGNIZE-lite: sequential pattern counting via state-machine fold
# ---------------------------------------------------------------------------

@_register(
    "match_recognize_funnel_users",
    """
    -- state machine as a RECURSIVE CTE (one step per event index,
    -- all users advance as parallel rows) instead of list_reduce:
    -- DuckDB 1.0.0 mis-evaluates this multi-reference CASE lambda
    -- over full-table aggregated lists (the same fold on the same
    -- list returns a different value inside the whole-table pipeline
    -- than filtered to one key; the recursion matches a hand fold)
    WITH RECURSIVE seq AS (
      SELECT user_id,
             list(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                       WHEN 'purchase' THEN 3 ELSE 0 END
                  ORDER BY ts, event_id) AS codes
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT user_id, 0 AS i, 0 AS acc, codes FROM seq
      UNION ALL
      SELECT user_id, i + 1,
             CASE WHEN codes[i + 1] = 3 AND acc % 3 = 2
                    THEN (acc // 3 + 1) * 3
                  WHEN codes[i + 1] = 2 AND acc % 3 = 1
                    THEN acc - (acc % 3) + 2
                  WHEN codes[i + 1] = 1 AND acc % 3 = 0
                    THEN acc - (acc % 3) + 1
                  ELSE acc END,
             codes
      FROM r WHERE i < len(codes)
    )
    SELECT user_id, CAST(len(codes) AS BIGINT) AS n_events,
           CAST(acc // 3 AS BIGINT) AS completed_funnels
    FROM r WHERE i = len(codes)
    """,
    "MATCH_RECOGNIZE emulation (SQL:2016 row-pattern matching, which "
    "Spark lacks): count non-overlapping view→click→purchase "
    "sequences per user with skip-past-non-matching-rows semantics, "
    "run as an integer-encoded state machine folded IN-ROW over each "
    "user's time-ordered event codes (acc = state + 3·completions — "
    "one exact integer fold, identical in both engines via a "
    "prepended initial accumulator). One shuffle keyed on user; the "
    "fold is scan-local; the CEP pattern layer for clickstreams",
    ("cep", "match-recognize", "hof", "events"),
)
def match_recognize_funnel_users(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    seq = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", code.alias("code")))
            ),
            lambda s: s["code"],
        ).alias("codes")
    )
    acc = F.aggregate(
        F.col("codes"),
        F.lit(0),
        lambda a, x: F.when((x == 3) & (a % 3 == 2), (F.floor(a / 3) + 1) * 3)
        .when((x == 2) & (a % 3 == 1), a - (a % 3) + 2)
        .when((x == 1) & (a % 3 == 0), a - (a % 3) + 1)
        .otherwise(a)
        .cast("int"),
    )
    return seq.select(
        "user_id",
        F.size("codes").cast("long").alias("n_events"),
        F.floor(acc / 3).cast("long").alias("completed_funnels"),
    )


# ---------------------------------------------------------------------------
# Pareto concentration curve (80/20 analysis)
# ---------------------------------------------------------------------------

@_register(
    "pareto_customers_revenue",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(floor(round(sum(o_totalprice), 4) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT o_custkey, cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cents) OVER () AS tot,
             count(*) OVER () AS n
      FROM per_cust
    )
    SELECT CAST(rk AS BIGINT) AS rank,
           o_custkey,
           cents / 100.0 AS revenue,
           floor(cum * 1.0 / tot * 1000000 + 0.5) / 1000000.0
             AS cum_revenue_share,
           floor(rk * 1.0 / n * 1000000 + 0.5) / 1000000.0
             AS cum_customer_share,
           (cum - cents) * 1.0 / tot < 0.8 AND cum * 1.0 / tot >= 0.8
             AS crosses_80pct
    FROM ranked
    """,
    "Pareto (80/20) revenue-concentration curve: customers ranked by "
    "revenue (integer cents — every share derives from exact "
    "integers), cumulative revenue share vs cumulative customer "
    "share, and the exact customer where the curve crosses 80%. One "
    "fact-keyed aggregate, then windows over the customer-sized "
    "rollup; the concentration sibling of the per-segment Gini the "
    "registry already ships",
    ("window", "agg", "concentration", "orders"),
)
def pareto_customers_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.floor(F.round(F.sum("o_totalprice"), 4) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    order_w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    run = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.partitionBy()
    ranked = per_cust.select(
        "o_custkey",
        "cents",
        F.row_number().over(order_w).alias("rk"),
        F.sum("cents").over(run).alias("cum"),
        F.sum("cents").over(full).alias("tot"),
        F.count("*").over(full).alias("n"),
    )
    share = F.col("cum") * F.lit(1.0) / F.col("tot")
    prev_share = (F.col("cum") - F.col("cents")) * F.lit(1.0) / F.col("tot")
    return ranked.select(
        F.col("rk").cast("long").alias("rank"),
        "o_custkey",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        _r6(share).alias("cum_revenue_share"),
        _r6(F.col("rk") * F.lit(1.0) / F.col("n")).alias("cum_customer_share"),
        ((prev_share < 0.8) & (share >= 0.8)).alias("crosses_80pct"),
    )


# ---------------------------------------------------------------------------
# Exact distinct via mergeable bitmaps (Spark 3.5 bitmap functions)
# ---------------------------------------------------------------------------

@_register(
    "bitmap_distinct_users_by_type",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
    "EXACT distinct counting through mergeable bitmap state (Spark "
    "3.5 bitmap_bucket_number / bitmap_construct_agg / bitmap_or_agg "
    "/ bitmap_count — the Snowflake/ClickHouse bitmap-index "
    "pattern): per (type, bucket) bitmaps build with map-side "
    "combine, OR-merge per type, and their popcounts sum to the "
    "exact distinct. Unlike count(DISTINCT) this state is "
    "re-aggregatable (store per-day bitmaps, OR them for any date "
    "range) and unlike HLL it is exact; the oracle states the truth "
    "relationally",
    ("agg", "bitmap", "distinct", "events"),
)
def bitmap_distinct_users_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"),
        F.count("*").alias("n"),
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users"),
        F.sum("n").alias("n_events"),
    )


@_register(
    "bitmap_index_range_distinct",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_ids,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
    GROUP BY 1
    """,
    "Materialized bitmap index answering an exact distinct-users "
    "range query (operators/bitmap_index.py::BitmapDistinctIndex): "
    "per-(day, type, bucket) bitmaps build once, then the two-week "
    "question OR-merges only the range's date partitions and "
    "popcounts — the fact table is absent from the query plan. The "
    "oracle recomputes the truth from raw rows; count(DISTINCT) "
    "finally gets a mergeable, exact, re-aggregatable materialized "
    "form",
    ("bitmap", "index", "distinct", "mv", "events"),
)
def bitmap_index_range_distinct(spark, sf_dir):
    import tempfile

    from ..operators.bitmap_index import BitmapDistinctIndex

    e = _t(spark, sf_dir, "events")
    idx = BitmapDistinctIndex(path=tempfile.mkdtemp(prefix="bmidx_") + "/events")
    idx.build(e)
    return idx.distinct_over(spark, "2024-01-08", "2024-01-21").select(
        "event_type",
        F.col("distinct_ids").cast("long").alias("distinct_ids"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Snapshot lake time travel (MVCC manifests)
# ---------------------------------------------------------------------------

@_register(
    "snapshot_lake_time_travel",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c_acctbal
                     + CASE WHEN c_custkey % 3 = 0 THEN 1000 ELSE 0 END), 2)
             AS total_bal
    FROM customer GROUP BY 1
    """,
    "MVCC time travel through the snapshot lake (streaming/"
    "snapshot_lake.py): three upsert commits build versions 1-3 "
    "(base load, +1000 for custkey%3 keys, +5000 for custkey%5 "
    "keys), then the query reads VERSION 2 — after the third commit "
    "exists — and aggregates it. The oracle states version 2's truth "
    "declaratively from the base table, so manifest isolation is "
    "what is checked: a reader of v2 must see none of v3's files. "
    "Immutable data files + atomic manifest rename = the "
    "Delta/Iceberg commit model without the format jar",
    ("lake", "mvcc", "time-travel", "customer"),
)
def snapshot_lake_time_travel(spark, sf_dir):
    import tempfile

    from ..streaming.snapshot_lake import SnapshotLakeTable

    c = _t(spark, sf_dir, "customer")
    t = SnapshotLakeTable(
        path=tempfile.mkdtemp(prefix="snaplake_") + "/cust",
        record_key="c_custkey",
        precombine_field="pts",
        partition_field="pdate",
    )

    def version(bal_expr, ts, pred=None):
        df = c.select(
            "c_custkey",
            "c_mktsegment",
            bal_expr.alias("bal"),
            F.lit(ts).cast("timestamp").alias("pts"),
            F.to_date(
                F.when(F.col("c_custkey") % 2 == 0, F.lit("2024-06-01"))
                .otherwise(F.lit("2024-06-02"))
            ).alias("pdate"),
        )
        return df.filter(pred) if pred is not None else df

    t.upsert_batch(version(F.col("c_acctbal"), "2024-06-01 00:00:00"), spark)
    t.upsert_batch(
        version(
            F.col("c_acctbal") + 1000,
            "2024-06-02 00:00:00",
            pred=F.col("c_custkey") % 3 == 0,
        ),
        spark,
    )
    t.upsert_batch(
        version(
            F.col("c_acctbal") + 5000,
            "2024-06-03 00:00:00",
            pred=F.col("c_custkey") % 5 == 0,
        ),
        spark,
    )
    return (
        t.read(spark, version=2)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("bal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan report)
# ---------------------------------------------------------------------------

@_register(
    "referential_integrity_report",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS relationship,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS child_rows,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS orphans
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
    "Referential-integrity audit across the star schema's four FK "
    "relationships: child row counts plus orphan counts (children "
    "whose parent key is missing) via left-anti joins — the "
    "governance check a CDC pipeline runs after every backfill, "
    "since dropped parent changes materialize as orphans. Each "
    "relationship is one anti-join with the parent's KEY COLUMN "
    "only on the build side (broadcast for dims); one scan per "
    "table side, no row data shuffled",
    ("quality", "governance", "join", "anti"),
)
def referential_integrity_report(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")

    def audit(rel, child, child_key, parent, parent_key):
        orphans = child.select(child_key).join(
            parent.select(parent_key),
            child[child_key] == parent[parent_key],
            "left_anti",
        )
        return (
            child.agg(F.count("*").alias("child_rows"))
            .crossJoin(orphans.agg(F.count("*").alias("orphans")))
            .select(
                F.lit(rel).alias("relationship"), "child_rows", "orphans"
            )
        )

    return (
        audit("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(
            audit("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey")
        )
        .unionByName(
            audit("lineitem.l_partkey -> part", li, "l_partkey", p, "p_partkey")
        )
        .unionByName(
            audit(
                "customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey"
            )
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder integer allocation (exact proportional rationing)
# ---------------------------------------------------------------------------

@_register(
    "largest_remainder_allocation",
    """
    WITH seg AS (
      SELECT c_mktsegment,
             CAST(floor(round(sum(o_totalprice), 4) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM seg),
    q AS (
      SELECT c_mktsegment, cents,
             (cents * 10000) // tot AS floor_units,
             (cents * 10000) % tot AS remainder
      FROM seg CROSS JOIN tot
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY remainder DESC, c_mktsegment)
               AS rem_rank,
             CAST(10000 - sum(floor_units) OVER () AS BIGINT) AS leftover
      FROM q
    )
    SELECT c_mktsegment,
           cents / 100.0 AS revenue,
           CAST(floor_units + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated_units
    FROM ranked
    """,
    "Largest-remainder (Hamilton) integer allocation: 10,000 budget "
    "units split across market segments proportional to revenue, with "
    "floors first and the leftover units granted to the largest "
    "remainders (deterministic tie → segment name) so the allocation "
    "sums EXACTLY to the budget — the standard rationing/seat-"
    "apportionment algorithm, done entirely in integer arithmetic "
    "(revenue in cents, quotas as integer div/mod) so both engines "
    "agree bit-for-bit. One aggregate + one segment-sized window",
    ("agg", "window", "finance", "orders", "customer"),
)
def largest_remainder_allocation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.floor(F.round(F.sum("o_totalprice"), 4) * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents")
        )
    )
    tot = seg.agg(F.sum("cents").alias("tot"))
    q = seg.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "cents",
        # div() is exact BIGINT division — floor(a*b/c) on doubles can
        # land on the wrong side of an integer boundary
        F.expr("div(cents * 10000, tot)").cast("long").alias("floor_units"),
        ((F.col("cents") * 10000) % F.col("tot")).alias("remainder"),
    )
    ranked = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("remainder").desc(), F.col("c_mktsegment")))
        .alias("rem_rank"),
        (F.lit(10000) - F.sum("floor_units").over(Window.partitionBy())).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "c_mktsegment",
        (F.col("cents") / F.lit(100.0)).alias("revenue"),
        (
            F.col("floor_units")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated_units"),
    )


# ---------------------------------------------------------------------------
# Lexicon sentiment scoring (EDBT'16 Spark sentiment pipeline shape)
# ---------------------------------------------------------------------------

_SENTIMENT_LEXICON = {
    "good": 3, "great": 4, "excellent": 5, "best": 4, "fine": 2,
    "special": 2, "regular": 1, "even": 1,
    "bad": -3, "slow": -2, "unusual": -1, "final": -1, "close": -1,
    "furious": -4, "ironic": -2, "dogged": -2, "bold": 1, "quick": 2,
}


def _sentiment_oracle() -> str:
    cases = " ".join(
        f"WHEN '{w}' THEN {s}" for w, s in _SENTIMENT_LEXICON.items()
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CASE w {cases} ELSE 0 END AS s,
             CASE WHEN (CASE w {cases} ELSE 0 END) <> 0 THEN 1 ELSE 0 END
               AS hit
      FROM toks
    )
    SELECT doc_id, lang,
           CAST(sum(s) AS BIGINT) AS sentiment_sum,
           CAST(sum(hit) AS BIGINT) AS n_scored_tokens,
           CASE WHEN sum(s) > 0 THEN 'positive'
                WHEN sum(s) < 0 THEN 'negative'
                ELSE 'neutral' END AS polarity
    FROM scored GROUP BY 1, 2
    """


@_register(
    "sentiment_lexicon_documents",
    _sentiment_oracle(),
    "Lexicon-based sentiment scoring (the large-scale Spark "
    "sentiment-pipeline shape, EDBT'16): tokens map through an "
    "embedded signed lexicon via a scan-local CASE (the lexicon "
    "compiles into the expression — zero joins, zero shuffles before "
    "the per-doc aggregate), summing to a per-document polarity. "
    "Integer scores → bit-exact cross-engine. Swap the embedded "
    "lexicon for a broadcast map at real vocabulary sizes — the plan "
    "shape is unchanged",
    ("text", "nlp", "sentiment", "documents"),
)
def sentiment_lexicon_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    score = F.lit(0)
    for w, s in _SENTIMENT_LEXICON.items():
        score = F.when(F.col("w") == w, s).otherwise(score)
    scored = toks.select(
        "doc_id", "lang", score.alias("s"), (score != 0).cast("int").alias("hit")
    )
    agg = scored.groupBy("doc_id", "lang").agg(
        F.sum("s").alias("sentiment_sum"),
        F.sum("hit").alias("n_scored_tokens"),
    )
    return agg.select(
        "doc_id",
        "lang",
        "sentiment_sum",
        "n_scored_tokens",
        F.when(F.col("sentiment_sum") > 0, "positive")
        .when(F.col("sentiment_sum") < 0, "negative")
        .otherwise("neutral")
        .alias("polarity"),
    )


# ---------------------------------------------------------------------------
# Z-normalized subsequence similarity search (UCR-style, EDBT'19 shape)
# ---------------------------------------------------------------------------

@_register(
    "ts_subsequence_match_hourly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(floor(round(sum(value), 4) * 100 + 0.5) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT list(cents ORDER BY h) AS arr,
             list(h ORDER BY h) AS hs
      FROM hourly
    ),
    znq AS (
      SELECT arr, hs, len(arr) AS n,
             list_transform(range(1, 25), i -> arr[i] * 1.0) AS q
      FROM s
    ),
    qstats AS (
      SELECT arr, hs, n, q,
             list_reduce(q, (a, x) -> a + x) / 24 AS qmu,
             sqrt(list_reduce(list_transform(q, x -> x * x), (a, x) -> a + x)
                  / 24
                  - (list_reduce(q, (a, x) -> a + x) / 24)
                    * (list_reduce(q, (a, x) -> a + x) / 24) + 1e-12) AS qsd
      FROM znq
    ),
    cand AS (
      SELECT hs[st] AS window_start, st, arr, n, q, qmu, qsd
      FROM qstats, (SELECT unnest(range(25, (SELECT n FROM znq) - 22)) AS st)
    ),
    wstats AS (
      SELECT window_start, st, arr, q, qmu, qsd,
             list_transform(range(0, 24), j -> arr[st + j] * 1.0) AS w
      FROM cand
    ),
    wz AS (
      SELECT window_start, st, q, qmu, qsd, w,
             list_reduce(w, (a, x) -> a + x) / 24 AS wmu,
             sqrt(list_reduce(list_transform(w, x -> x * x), (a, x) -> a + x)
                  / 24
                  - (list_reduce(w, (a, x) -> a + x) / 24)
                    * (list_reduce(w, (a, x) -> a + x) / 24) + 1e-12) AS wsd
      FROM wstats
    ),
    dist AS (
      SELECT window_start,
             floor(
               list_reduce(
                 list_transform(range(0, 24),
                   j -> ((w[j + 1] - wmu) / wsd - (q[j + 1] - qmu) / qsd)
                        * ((w[j + 1] - wmu) / wsd - (q[j + 1] - qmu) / qsd)),
                 (a, x) -> a + x) * 10000 + 0.5) / 10000.0 AS zdist
      FROM wz
    )
    SELECT window_start, zdist,
           CAST(row_number() OVER (ORDER BY zdist, window_start) AS INTEGER)
             AS rank
    FROM dist
    QUALIFY rank <= 10
    """,
    "Z-normalized subsequence similarity search over the hourly "
    "revenue-proxy series (UCR-suite / streaming-similarity shape, "
    "EDBT'19): the first 24 hours form the query pattern; every "
    "later 24-hour window z-normalizes and scores by squared "
    "Euclidean distance; top-10 closest windows returned. Hourly "
    "sums convert to integer cents, every mean/σ/distance is one "
    "deterministic expression over them, and the whole search runs "
    "as index folds over the series array — at 100 TB the series "
    "per key is bounded, and per-key searches parallelize across "
    "the keyed partitioning",
    ("timeseries", "similarity", "hof", "events"),
)
def ts_subsequence_match_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.floor(F.round(F.sum("value"), 4) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    s = hourly.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "cents"))),
            lambda x: x["cents"],
        ).alias("arr"),
        F.array_sort(F.collect_list("h")).alias("hs"),
    )
    arr = F.col("arr")
    n = F.size(arr)
    m = 24

    def mean_of(vec):
        return F.aggregate(vec, F.lit(0.0), lambda a, x: a + x) / m

    def sd_of(vec, mu):
        sq = F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
        return F.sqrt(sq / m - mu * mu + F.lit(1e-12))

    q = F.transform(F.sequence(F.lit(1), F.lit(m)), lambda i: F.element_at(arr, i) * 1.0)
    base = s.select(
        arr.alias("arr"),
        F.col("hs").alias("hs"),
        n.alias("n"),
        q.alias("q"),
    ).select(
        "*",
        mean_of(F.col("q")).alias("qmu"),
    ).select("*", sd_of(F.col("q"), F.col("qmu")).alias("qsd"))
    cand = base.select(
        "*", F.explode(F.sequence(F.lit(m + 1), F.col("n") - m + 1)).alias("st")
    )
    w = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.element_at(F.col("arr"), F.col("st") + j) * 1.0,
    )
    cand = cand.select(
        F.element_at("hs", F.col("st")).alias("window_start"),
        "q", "qmu", "qsd", w.alias("w"),
    ).select("*", mean_of(F.col("w")).alias("wmu")).select(
        "*", sd_of(F.col("w"), F.col("wmu")).alias("wsd")
    )
    zd = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: (
                (F.element_at(F.col("w"), j + 1) - F.col("wmu")) / F.col("wsd")
                - (F.element_at(F.col("q"), j + 1) - F.col("qmu")) / F.col("qsd")
            )
            * (
                (F.element_at(F.col("w"), j + 1) - F.col("wmu")) / F.col("wsd")
                - (F.element_at(F.col("q"), j + 1) - F.col("qmu")) / F.col("qsd")
            ),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dist = cand.select(
        "window_start",
        (F.floor(zd * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias("zdist"),
    )
    return dist.select(
        "window_start",
        "zdist",
        F.row_number()
        .over(Window.orderBy("zdist", "window_start"))
        .cast("int")
        .alias("rank"),
    ).filter(F.col("rank") <= 10)


# ---------------------------------------------------------------------------
# Poisson bootstrap CI (scalable statistical inference)
# ---------------------------------------------------------------------------

@_register(
    "bootstrap_ci_mean_price",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    mix AS (
      SELECT r, cents,
             xor(s2 * 1597334677 % 2147483648,
                 (s2 * 1597334677 % 2147483648) >> 16) AS s
      FROM (
        SELECT r, cents,
               xor(s1 * 2654435761 % 2147483648,
                   (s1 * 2654435761 % 2147483648) >> 13) AS s2
        FROM (
          SELECT r, cents, xor(s0, s0 >> 16) AS s1
          FROM (
            SELECT r, cents,
                   ((l_orderkey % 2147483648) * 2654435761 % 2147483648
                    + (l_linenumber % 2147483648) * 2246822519 % 2147483648
                    + r * 3266489917 % 2147483648
                    + 1013904223) % 2147483648 AS s0
            FROM base, (SELECT unnest(range(1, 101)) AS r)
          )
        )
      )
    ),
    mult AS (
      SELECT r, cents,
             CASE WHEN s < 790015084 THEN 0
                  WHEN s < 1580030168 THEN 1
                  WHEN s < 1975037710 THEN 2
                  ELSE 3 END AS m
      FROM mix
    ),
    per_resample AS (
      SELECT r, CAST(sum(cents * m) AS BIGINT) AS sc,
             CAST(sum(m) AS BIGINT) AS n
      FROM mult GROUP BY r HAVING sum(m) > 0
    ),
    arr AS (
      SELECT list(sc * 1.0 / (100.0 * n) ORDER BY sc * 1.0 / (100.0 * n)) AS a,
             CAST(count(*) AS BIGINT) AS b
      FROM per_resample
    ),
    point AS (
      SELECT CAST(sum(cents) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS cnt
      FROM base
    )
    SELECT b AS n_resamples,
           floor(tot * 1.0 / (100.0 * cnt) * 1000000 + 0.5) / 1000000.0
             AS point_mean,
           floor(a[3] * 1000000 + 0.5) / 1000000.0 AS ci_lo,
           floor(a[98] * 1000000 + 0.5) / 1000000.0 AS ci_hi
    FROM arr CROSS JOIN point
    """,
    "Poisson bootstrap 95% CI for the mean extended price — THE "
    "scalable bootstrap: instead of resampling n rows with "
    "replacement (which needs global coordination), every row draws "
    "an independent multiplicity per resample from a truncated "
    "Poisson(1) (P=e⁻¹ ladder on an exact 2³¹ integer lattice), so "
    "100 resamples are one map-side explode of (r, cents) longs "
    "feeding a 100-group partial-aggregated sum — shuffle carries "
    "100 rows per partition, never data. Multiplicities come from a "
    "3-round multiply-xorshift integer mixer over (orderkey, "
    "linenumber, r) — pure 64-bit-safe arithmetic, identical in "
    "both engines and fully inside JVM whole-stage codegen (r6: "
    "replaced the salted-md5 string draws, whose 100 digests/row "
    "were the query's entire 56 s cost — bench-includable now); "
    "prices are integer cents, so every resample mean is an exact "
    "integer ratio and the CI bounds are order statistics of "
    "identical doubles",
    ("stats", "bootstrap", "sampling", "lineitem"),
)
def bootstrap_ci_mean_price(spark, sf_dir):
    from ..operators.scale import spread_for_compute

    # The ×100 explode + integer mixer is pure codegen CPU — 60M
    # generated rows inherit the scan's split count (ONE task on the
    # single-row-group fixture; measured 2.6 s serialized, round 8).
    # Spreading the 3-column projection first parallelizes it; no-op
    # when the scan already has enough splits.
    li = spread_for_compute(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    # two consumers (the x100 resample leg and the point-mean leg)
    # re-ran the scan+spread exchange once each (r9 profile: two
    # back-to-back 3-task jobs); checkpoint the projection so both
    # read one materialization
    ).localCheckpoint(eager=False)
    resampled = li.select(
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(100))).alias("r"),
        "l_orderkey",
        "l_linenumber",
    )
    two31 = F.lit(2147483648)
    s0 = (
        (F.col("l_orderkey") % two31) * F.lit(2654435761) % two31
        + (F.col("l_linenumber").cast("long") % two31)
        * F.lit(2246822519)
        % two31
        + F.col("r").cast("long") * F.lit(3266489917) % two31
        + F.lit(1013904223)
    ) % two31
    s1 = s0.bitwiseXOR(F.shiftright(s0, 16))
    s2a = s1 * F.lit(2654435761) % two31
    s2 = s2a.bitwiseXOR(F.shiftright(s2a, 13))
    s3a = s2 * F.lit(1597334677) % two31
    s = s3a.bitwiseXOR(F.shiftright(s3a, 16))
    m = (
        F.when(s < 790015084, 0)
        .when(s < 1580030168, 1)
        .when(s < 1975037710, 2)
        .otherwise(3)
    )
    per = (
        resampled.select("r", "cents", m.alias("m"))
        .groupBy("r")
        .agg(
            # plain long sum: cents ≤ 1e7 and m ≤ 3, so a resample
            # total stays under 2^63 up to ~10^11 lineitem rows (the
            # r6 A/B showed decimal(20,0) arithmetic cost 3× here)
            F.sum(F.col("cents") * F.col("m")).alias("sc"),
            F.sum("m").alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    mean_r = F.col("sc") * F.lit(1.0) / (F.lit(100.0) * F.col("n"))
    arr = per.select(mean_r.alias("mr")).agg(
        F.sort_array(F.collect_list("mr")).alias("a"),
        F.count("*").alias("b"),
    )
    point = li.agg(
        F.sum("cents").alias("tot"), F.count("*").alias("cnt")
    )
    return arr.crossJoin(F.broadcast(point)).select(
        F.col("b").alias("n_resamples"),
        _r6(F.col("tot") * F.lit(1.0) / (F.lit(100.0) * F.col("cnt"))).alias(
            "point_mean"
        ),
        _r6(F.element_at("a", 3)).alias("ci_lo"),
        _r6(F.element_at("a", 98)).alias("ci_hi"),
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
# ML evaluation: ROC-AUC via rank statistics (Mann–Whitney)
# ---------------------------------------------------------------------------

@_register(
    "auc_chars_predict_english",
    """
    WITH scored AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    ranked AS (
      SELECT y,
             avg(rn) OVER (PARTITION BY score) AS tie_rank
      FROM (
        SELECT score, y,
               row_number() OVER (ORDER BY score) * 1.0 AS rn
        FROM scored
      )
    ),
    agg AS (
      SELECT CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
             sum(CASE WHEN y = 1 THEN tie_rank ELSE 0 END) AS r_pos
      FROM ranked
    )
    SELECT n_pos, n_neg,
           floor((r_pos - n_pos * (n_pos + 1.0) / 2)
                 / (n_pos * 1.0 * n_neg) * 1000000 + 0.5) / 1000000.0 AS auc
    FROM agg
    """,
    "ROC-AUC of document length predicting lang='en', computed as "
    "the Mann–Whitney rank-sum statistic: AUC = (R₊ − n₊(n₊+1)/2) / "
    "(n₊ n₋), with tied scores taking average ranks. Ranks are "
    "integers (ties → .5 halves — exactly representable), so the "
    "statistic is bit-deterministic; no threshold sweep or curve "
    "materialization. This is the scalable AUC: a per-score tie-"
    "group aggregate, then a DISTRIBUTED running total over the "
    "group table (scale.py::prefix_sums — range-partitioned, no "
    "single-partition window) + one aggregate, no O(n²) pair "
    "comparisons; the oracle states the same statistic with the "
    "classic per-row rank window",
    ("ml", "evaluation", "auc", "stats", "documents"),
)
def auc_chars_predict_english(spark, sf_dir):
    from ..operators.scale import prefix_sums

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # Scale-safe rank-sum: aggregate per distinct score FIRST (the
    # tie groups), then one distributed running total over the
    # score-sorted group table (scale.py::prefix_sums — no single-
    # partition window anywhere). avg tied rank of a group =
    # (#rows before it) + (group_size + 1)/2; every term is an
    # integer or half-integer, so r_pos = Σ pos_s · tie_rank is
    # exactly representable and bit-matches the per-row oracle.
    per_score = scored.groupBy("score").agg(
        F.count("*").alias("n_s"), F.sum("y").alias("pos_s")
    )
    cum = prefix_sums(per_score, ["score"], ["n_s"])
    tie_rank = (
        (F.col("cum_n_s") - F.col("n_s")).cast("double")
        + (F.col("n_s") + F.lit(1.0)) / 2
    )
    agg = cum.agg(
        F.sum("pos_s").alias("n_pos"),
        (F.sum("n_s") - F.sum("pos_s")).alias("n_neg"),
        F.sum(F.col("pos_s") * tie_rank).alias("r_pos"),
    )
    auc = (
        F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1.0)) / 2
    ) / (F.col("n_pos") * F.lit(1.0) * F.col("n_neg"))
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        _r6(auc).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ML evaluation: classifier confusion metrics (language ID vs labels)
# ---------------------------------------------------------------------------

def _langid_metrics_oracle() -> str:
    from .registry import _langid_oracle

    return f"""
    WITH preds AS ({_langid_oracle()}),
    cells AS (
      SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n
      FROM preds GROUP BY 1, 2
    ),
    langs AS (SELECT DISTINCT labeled_lang AS lang FROM cells),
    m AS (
      SELECT lang,
             coalesce((SELECT sum(n) FROM cells
                       WHERE labeled_lang = lang AND guessed_lang = lang), 0)
               AS tp,
             coalesce((SELECT sum(n) FROM cells
                       WHERE guessed_lang = lang AND labeled_lang <> lang), 0)
               AS fp,
             coalesce((SELECT sum(n) FROM cells
                       WHERE labeled_lang = lang AND guessed_lang <> lang), 0)
               AS fn
      FROM langs
    )
    SELECT lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           floor(CASE WHEN tp + fp = 0 THEN 0.0
                      ELSE tp * 1.0 / (tp + fp) END * 1000000 + 0.5)
             / 1000000.0 AS precision_,
           floor(CASE WHEN tp + fn = 0 THEN 0.0
                      ELSE tp * 1.0 / (tp + fn) END * 1000000 + 0.5)
             / 1000000.0 AS recall_,
           floor(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                      ELSE 2.0 * tp / (2 * tp + fp + fn) END * 1000000 + 0.5)
             / 1000000.0 AS f1
    FROM m
    """


@_register(
    "langid_confusion_metrics",
    _langid_metrics_oracle(),
    "Classifier evaluation closing the language-ID loop: the "
    "engine's heuristic language detector scored against the labeled "
    "lang column — per-language TP/FP/FN and precision/recall/F1 "
    "from the confusion cells. The oracle re-derives the SAME "
    "detector from the shared stopword tables (so predictions are "
    "engine-identical) and recomputes the metrics relationally; all "
    "floats derive from integer counts. One prediction scan + a "
    "cells-sized aggregate",
    ("ml", "evaluation", "langid", "text", "documents"),
)
def langid_confusion_metrics(spark, sf_dir):
    from ..functions.text import lang_id_heuristic
    from ..operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    preds = spread_for_compute(d.select("lang", "text")).select(
        F.col("lang").alias("labeled_lang"),
        lang_id_heuristic(F.col("text")).alias("guessed_lang"),
    )
    # the confusion matrix feeds four branches — checkpoint so the
    # stopword-vote scan evaluates once
    cells = preds.groupBy("labeled_lang", "guessed_lang").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=False)
    langs = cells.select(F.col("labeled_lang").alias("lang")).distinct()
    tp = cells.filter(F.col("labeled_lang") == F.col("guessed_lang")).select(
        F.col("labeled_lang").alias("lang"), F.col("n").alias("tp")
    )
    fp = (
        cells.filter(F.col("labeled_lang") != F.col("guessed_lang"))
        .groupBy(F.col("guessed_lang").alias("lang"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        cells.filter(F.col("labeled_lang") != F.col("guessed_lang"))
        .groupBy(F.col("labeled_lang").alias("lang"))
        .agg(F.sum("n").alias("fn"))
    )
    m = (
        langs.join(tp, "lang", "left")
        .join(fp, "lang", "left")
        .join(fn, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fn"))
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)
    ).otherwise(
        F.lit(2.0) * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    return m.select(
        "lang",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        _r6(prec).alias("precision_"),
        _r6(rec).alias("recall_"),
        _r6(f1).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Data profiling: string pattern census (shape discovery)
# ---------------------------------------------------------------------------

@_register(
    "string_pattern_profile",
    """
    WITH shapes AS (
      SELECT 'c_name' AS column_name,
             regexp_replace(regexp_replace(regexp_replace(
               c_name, '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'),
               '[A-Z]', 'A', 'g') AS pattern
      FROM customer
      UNION ALL
      SELECT 'p_brand',
             regexp_replace(regexp_replace(regexp_replace(
               p_brand, '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'),
               '[A-Z]', 'A', 'g')
      FROM part
      UNION ALL
      SELECT 'o_orderpriority',
             regexp_replace(regexp_replace(regexp_replace(
               o_orderpriority, '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'),
               '[A-Z]', 'A', 'g')
      FROM orders
    ),
    counted AS (
      SELECT column_name, pattern, CAST(count(*) AS BIGINT) AS n
      FROM shapes GROUP BY 1, 2
    )
    SELECT column_name, pattern, n,
           CAST(rank_ AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY column_name
               ORDER BY n DESC, pattern) AS rank_
      FROM counted
    ) WHERE rank_ <= 5
    """,
    "String shape profiling (the pattern-discovery pass of a data "
    "profiler): every value maps to its character-class skeleton "
    "(digits→9, lower→a, upper→A — scan-local regexp chain, zero "
    "shuffles before the census), then the top-5 shapes per column "
    "expose format drift — a new pattern in a column that had one "
    "shape is how malformed upstream feeds surface. Census "
    "cardinality is #shapes, not #rows",
    ("profiling", "quality", "strings", "customer", "part", "orders"),
)
def string_pattern_profile(spark, sf_dir):
    def shape(col):
        c = F.regexp_replace(col, "[0-9]", "9")
        c = F.regexp_replace(c, "[a-z]", "a")
        return F.regexp_replace(c, "[A-Z]", "A")

    c = _t(spark, sf_dir, "customer").select(
        F.lit("c_name").alias("column_name"), shape(F.col("c_name")).alias("pattern")
    )
    p = _t(spark, sf_dir, "part").select(
        F.lit("p_brand").alias("column_name"), shape(F.col("p_brand")).alias("pattern")
    )
    o = _t(spark, sf_dir, "orders").select(
        F.lit("o_orderpriority").alias("column_name"),
        shape(F.col("o_orderpriority")).alias("pattern"),
    )
    counted = c.unionByName(p).unionByName(o).groupBy(
        "column_name", "pattern"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("column_name").orderBy(
        F.col("n").desc(), F.col("pattern")
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("column_name", "pattern", "n", F.col("rank").cast("int").alias("rank"))
    )
