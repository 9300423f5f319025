"""Round-2 (cont.) registry additions — financial reconciliation,
rounding-anomaly screening, proportion inference, percent-of-total
windows, and recommender evaluation.

Same contract as ``registry.py``. Imported at the bottom of
``registry.py``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import legs as _legs
from .registry import _register, _t


def _r6(col):
    return F.floor(col * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


# ---------------------------------------------------------------------------
# Order-total vs lineitem-sum reconciliation audit
# ---------------------------------------------------------------------------

@_register(
    "reconciliation_orders_lineitems",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS li_cents,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice * 100) AS BIGINT) AS o_cents,
             coalesce(li.li_cents, 0) AS li_cents,
             coalesce(li.n_lines, 0) AS n_lines
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT CASE WHEN n_lines = 0 THEN 'no_lineitems'
                  WHEN o_cents = li_cents THEN 'exact'
                  WHEN abs(o_cents - li_cents) <= li_cents / 10
                    THEN 'within_10pct'
                  ELSE 'mismatch' END AS bucket,
             o_cents, li_cents
      FROM j
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_cents) AS BIGINT) AS total_order_cents,
           CAST(sum(li_cents) AS BIGINT) AS total_line_cents,
           CAST(max(abs(o_cents - li_cents)) AS BIGINT) AS max_abs_diff_cents
    FROM g GROUP BY bucket
    """,
    "Financial reconciliation audit between the order header and its "
    "lines: per order, o_totalprice vs Σ l_extendedprice in exact "
    "integer cents, bucketed exact / within-10% / mismatch / "
    "no-lineitems with per-bucket totals and the worst absolute gap "
    "— the header-vs-detail consistency check every warehouse runs "
    "after ingest (complements the key-level "
    "`referential_integrity_report`). One map-side-combined lineitem "
    "rollup, one orders-keyed left join (both sides pre-keyed on "
    "orderkey, co-partitioned at scale), one tiny bucket aggregate.",
    ("quality", "reconciliation", "orders", "lineitem"),
)
def reconciliation_orders_lineitems(spark, sf_dir):
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "li_cents"
            ),
            F.count("*").alias("n_lines"),
        )
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_cents",
        F.coalesce(F.col("li_cents"), F.lit(0)).alias("li_cents"),
        F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
    )
    diff = F.abs(F.col("o_cents") - F.col("li_cents"))
    bucket = (
        F.when(F.col("n_lines") == 0, "no_lineitems")
        .when(F.col("o_cents") == F.col("li_cents"), "exact")
        .when(diff <= F.col("li_cents") / 10, "within_10pct")
        .otherwise("mismatch")
    )
    return (
        j.select(bucket.alias("bucket"), "o_cents", "li_cents")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_cents").alias("total_order_cents"),
            F.sum("li_cents").alias("total_line_cents"),
            F.max(F.abs(F.col("o_cents") - F.col("li_cents"))).alias(
                "max_abs_diff_cents"
            ),
        )
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
# Percent-of-total window census (ratio-to-parent at two levels)
# ---------------------------------------------------------------------------

@_register(
    "ratio_to_report_census",
    """
    WITH seg AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_cents
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, segment, bal_cents,
           floor(bal_cents / CAST(sum(bal_cents) OVER (PARTITION BY nation)
                                  AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share_of_nation,
           floor(bal_cents / CAST(sum(bal_cents) OVER () AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS share_of_total,
           floor(sum(bal_cents) OVER (PARTITION BY nation)
                 / CAST(sum(bal_cents) OVER () AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS nation_share
    FROM seg
    """,
    "Percent-of-total (ratio_to_report) window census: each "
    "(nation, segment) balance cell reports its share of the nation, "
    "its share of the grand total, and the nation's share of the "
    "total — the contribution-to-parent pattern of every BI rollup, "
    "here over EXACT integer-cent sums so the window totals are "
    "order-free and each share is one pinned division. One "
    "fact-sized aggregate to a 125-cell grid; the two window "
    "partitions run on the grid, not facts.",
    ("window", "agg", "customer"),
)
def ratio_to_report_census(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    seg = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias(
                "bal_cents"
            )
        )
    )
    w_nation = Window.partitionBy("nation")
    w_all = Window.partitionBy()
    return seg.select(
        "nation",
        "segment",
        F.col("bal_cents").cast("long").alias("bal_cents"),
        _r6(
            F.col("bal_cents") / F.sum("bal_cents").over(w_nation).cast("double")
        ).alias("share_of_nation"),
        _r6(
            F.col("bal_cents") / F.sum("bal_cents").over(w_all).cast("double")
        ).alias("share_of_total"),
        _r6(
            F.sum("bal_cents").over(w_nation)
            / F.sum("bal_cents").over(w_all).cast("double")
        ).alias("nation_share"),
    )


# ---------------------------------------------------------------------------
# Recommender evaluation: co-purchase precision@k on a hash holdout
# ---------------------------------------------------------------------------

_RECO_K = 5
_RECO_SALT = "reco-v1"


def _reco_recs(split):
    """Top-K item-item co-purchase recommendations from the train side:
    (p, q, rk) with rk ≤ K in (weight desc, q asc) order."""
    train = (
        split.filter("is_train")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ta = train.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    tb = train.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("q")
    )
    co = (
        ta.join(tb, "o")
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").alias("w"))
    )
    wk = Window.partitionBy("p").orderBy(F.desc("w"), F.asc("q"))
    return (
        co.select("p", "q", F.row_number().over(wk).alias("rk"))
        .filter(F.col("rk") <= _RECO_K)
    )


def _reco_actual(split):
    """Distinct (p, q) co-basket pairs on the test side."""
    test = (
        split.filter(~F.col("is_train"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ea = test.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    eb = test.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("q")
    )
    return (
        ea.join(eb, "o")
        .filter(F.col("p") != F.col("q"))
        .select("p", "q")
        .distinct()
    )


def _reco_eval_legs(spark, sf_dir):
    """Materialized shared legs for the three recommender-evaluation
    metrics (precision@k here, MRR in registry9, nDCG in registry19):
    all three grade the SAME model — top-K item-item co-purchase
    recommendations from the md5-hash train split — against the SAME
    truth — distinct test-side co-baskets. A real pipeline scores the
    model once and computes every metric from the scored tables, so
    both tables are served through the shared-leg cache over the split
    frame (same contract as ``_ngram_pair_leg``).

    Returns ``(recs, actual)``."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    is_train = F.substring(
        F.md5(
            F.concat(
                F.lit(_RECO_SALT), F.col("l_orderkey").cast("string")
            ).cast("binary")
        ),
        1,
        1,
    ).isin(*"0123456789ab")
    split = li.select("l_orderkey", "l_partkey", is_train.alias("is_train"))
    recs = _legs.leg(spark, split, _reco_recs)
    return recs, _legs.leg(spark, split, _reco_actual)


@_register(
    "reco_precision_at_k",
    f"""
    WITH split AS (
      SELECT l_orderkey, l_partkey,
             substr(md5('{_RECO_SALT}' || CAST(l_orderkey AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_train
      FROM lineitem
    ),
    train AS (SELECT DISTINCT l_orderkey, l_partkey FROM split WHERE is_train),
    test  AS (SELECT DISTINCT l_orderkey, l_partkey FROM split
              WHERE NOT is_train),
    co AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q,
             CAST(count(*) AS BIGINT) AS w
      FROM train a JOIN train b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    recs AS (
      SELECT p, q FROM (
        SELECT p, q,
               row_number() OVER (PARTITION BY p ORDER BY w DESC, q ASC) AS rk
        FROM co
      ) WHERE rk <= {_RECO_K}
    ),
    actual AS (
      SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
      FROM test a JOIN test b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    eval_items AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_actual FROM actual GROUP BY 1
    ),
    nrec AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_recs FROM recs GROUP BY 1
    ),
    hits_per_p AS (
      SELECT r.p, CAST(count(*) AS BIGINT) AS n_hit
      FROM recs r JOIN actual a ON a.p = r.p AND a.q = r.q
      GROUP BY 1
    ),
    hits AS (
      SELECT e.p, coalesce(h.n_hit, 0) AS n_hit, nr.n_recs
      FROM eval_items e
      JOIN nrec nr USING (p)
      LEFT JOIN hits_per_p h USING (p)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval_parts,
           CAST(sum(n_recs) AS BIGINT) AS n_recommended,
           CAST(sum(n_hit) AS BIGINT) AS n_hits,
           floor(sum(n_hit) / CAST(sum(n_recs) AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS precision_at_k
    FROM hits
    """,
    "Recommender evaluation on a deterministic holdout: orders hash-"
    "split 75/25 by md5(orderkey); the train side builds item-item "
    "co-purchase counts; each part's top-5 co-items (weight desc, "
    "part asc — deterministic) are scored against the ACTUAL co-"
    "baskets of the test side, yielding micro-averaged precision@5 "
    "over parts that appear in multi-item test orders. The pair "
    "joins are order-keyed (bounded per-order fan-out, never a cross "
    "product); the top-5 window is parts-sized; the hit join probes "
    "the recommendations table. Counts are exact integers. The "
    "model (recs) and truth (actual) tables are served from the "
    "materialized shared legs (_reco_eval_legs) graded by all three "
    "reco metrics — score once, evaluate many.",
    ("ml-eval", "recommendation", "lineitem"),
)
def reco_precision_at_k(spark, sf_dir):
    recs_rk, actual = _reco_eval_legs(spark, sf_dir)
    recs = recs_rk.select("p", "q")
    eval_items = actual.groupBy("p").agg(F.count("*").alias("n_actual"))
    n_recs = recs.groupBy("p").agg(F.count("*").alias("n_recs"))
    hit = (
        recs.join(actual, ["p", "q"]).groupBy("p").agg(F.count("*").alias("n_hit"))
    )
    hits = (
        eval_items.join(n_recs, "p")
        .join(hit, "p", "left")
        .select(
            "p",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            "n_recs",
        )
    )
    return hits.agg(
        F.count("*").alias("n_eval_parts"),
        F.sum("n_recs").cast("long").alias("n_recommended"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        _r6(F.sum("n_hit") / F.sum("n_recs").cast("double")).alias(
            "precision_at_k"
        ),
    )
