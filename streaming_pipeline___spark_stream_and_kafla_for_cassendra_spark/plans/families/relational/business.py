"""Joins, set operations, windows and business analytics over the
order, customer and part tables.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...core import _r6, _register, _t


@_register(
    "left_join_order_counts",
    """
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS order_count,
           round(coalesce(sum(o.o_totalprice), 0), 4) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    "J2 parity: the reference's monitoring LEFT JOIN + per-entity counts "
    "(KAFKA_LEARNING_MANUAL.md:459-463)",
    ("join", "agg"),
)
def left_join_order_counts(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias(
                "total_spent"
            ),
        )
    )


@_register(
    "anti_join_inactive_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
    "Left-anti join: customers with no big-ticket orders, per segment (§2.4)",
    ("join", "anti"),
)
def anti_join_inactive_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@_register(
    "semi_join_overdrawn_buyers",
    """
    SELECT c.c_custkey, round(c.c_acctbal, 4) AS c_acctbal
    FROM customer c
    WHERE c.c_acctbal < 0
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "Left-semi join: overdrawn customers that still have orders (§2.4)",
    ("join", "semi"),
)
def semi_join_overdrawn_buyers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.round("c_acctbal", 4).alias("c_acctbal")
    )


@_register(
    "full_outer_nation_presence",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers
               FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
          FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_customers, s.n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    "Full outer join: customer vs supplier presence per nation — each "
    "side can be null (§2.4 join family completion)",
    ("join", "outer"),
)
def full_outer_nation_presence(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.nk == s.nk2, "full_outer").select(
        F.coalesce("nk", "nk2").alias("nationkey"), "n_customers", "n_suppliers"
    )


@_register(
    "set_ops_customer_cohorts",
    """
    SELECT c_custkey FROM (
      (SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 50000
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      UNION
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    """,
    "Set operations: INTERSECT/UNION/EXCEPT cohort algebra (§2.9)",
    ("setops",),
)
def set_ops_customer_cohorts(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big_buyers = o.filter(F.col("o_totalprice") > 50000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    overdrawn = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        big_buyers.intersect(rich).union(building).distinct().subtract(overdrawn)
    )


@_register(
    "window_rank_top_orders",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    "Analytic window: top-3 orders per customer via row_number (§2.7)",
    ("window",),
)
def window_rank_top_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"), "rn",
        )
    )


@_register(
    "orders_sort_limit",
    """
    SELECT o_orderkey, o_custkey, o_orderdate, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 10
    """,
    "O1 parity: ORDER BY ... DESC LIMIT 10 monitoring query "
    "(PROJECT_DOCUMENTATION.md:556-557)",
    ("sort", "limit"),
)
def orders_sort_limit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(10)
        .select(
            "o_orderkey", "o_custkey", "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
    )


@_register(
    "case_when_order_buckets",
    """
    SELECT CASE WHEN o_totalprice < 10000 THEN 'small'
                WHEN o_totalprice <= 100000 THEN 'medium'
                ELSE 'large' END AS price_bucket,
           o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_value
    FROM orders
    GROUP BY 1, 2
    """,
    "F4 parity: CASE WHEN bucketing taxonomy (MSP:129-192 pattern)",
    ("casewhen", "agg"),
)
def case_when_order_buckets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 10000, "small")
        .when(F.col("o_totalprice") <= 100000, "medium")
        .otherwise("large")
    )
    return (
        o.withColumn("price_bucket", bucket)
        .groupBy("price_bucket", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_value"),
        )
    )


@_register(
    "rollup_region_nation_sales",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           cast(grouping(r_name) + grouping(n_name) AS INTEGER)
             AS agg_level,
           count(*) AS order_count,
           round(sum(o_totalprice), 4) AS total_sales
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    "ROLLUP hierarchy (engine addition — SURVEY §2.6 notes the "
    "reference has no grouping sets): region→nation→grand-total in "
    "one pass, GROUPING() distinguishes subtotal rows",
    ("agg", "rollup"),
)
def rollup_region_nation_sales(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name"))
            .cast("int")
            .alias("agg_level"),
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_sales"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "agg_level",
            "order_count",
            "total_sales",
        )
    )


@_register(
    "part_string_functions",
    """
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER)
             AS brand_no,
           upper(substr(p_type, 1, 3)) AS type_prefix,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           replace(p_name, ' ', '_') AS name_snake,
           CAST(strpos(p_name, 'widget') AS INTEGER) AS widget_pos,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    """,
    "String-function census beyond the reference's F1-F13: "
    "regexp_extract, substring, lpad, replace-all, instr/strpos, "
    "length — all codegen, no UDFs",
    ("strings", "scalar"),
)
def part_string_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_no"),
        F.upper(F.substring("p_type", 1, 3)).alias("type_prefix"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.instr(F.col("p_name"), "widget").cast("int").alias("widget_pos"),
        F.length("p_name").cast("int").alias("name_len"),
    )


@_register(
    "orders_date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           date_diff('day', o_orderdate,
                     TIMESTAMP '2001-01-01') AS days_to_y2001,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      AND o_orderdate < TIMESTAMP '2000-02-01'
    """,
    "Date arithmetic census (SURVEY §2.5 notes the reference has "
    "none): date_add, trunc-to-month, datediff, day-of-week — all "
    "codegen expressions over the pruned scan",
    ("dates", "scalar"),
)
def orders_date_arithmetic(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-02-01").cast("timestamp"))
    )
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias(
            "order_month"
        ),
        F.datediff(
            F.lit("2001-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("days_to_y2001"),
        F.dayofweek(F.col("o_orderdate")).cast("int").alias("order_dow"),
    )


@_register(
    "market_basket_pairs",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS pair_cnt
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ocnt
           FROM items GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem)
    SELECT p.part_a, p.part_b, CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
           floor((CAST(p.pair_cnt AS BIGINT) * n.n_orders)
                 / (ca.ocnt * cb.ocnt) * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN n
    """,
    "Market-basket co-purchase mining, basket-style: ONE shuffle of "
    "the fact table (groupBy order → sorted distinct part array), "
    "then pair generation happens IN-ROW via higher-order functions "
    "(transform×slice over the basket array — basket-size² work with "
    "zero extra shuffle, never a fact-table self-join), a pair-sized "
    "groupBy for support, and lift = P(a,b)/(P(a)·P(b)) from "
    "broadcast per-part order counts + a broadcast scalar order "
    "count. The association-rules primitive the reference's "
    "user-order statistics gesture at",
    ("join", "agg", "basket", "hof"),
)
def market_basket_pairs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    arr = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    part_counts = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("ocnt"))
    )
    n_orders = li.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    lift_num = F.col("pair_cnt") * F.col("n_orders")
    lift_den = F.col("ocnt_a") * F.col("ocnt_b")
    q = lift_num / lift_den
    return (
        pairs.join(
            F.broadcast(
                part_counts.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("ocnt").alias("ocnt_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                part_counts.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("ocnt").alias("ocnt_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_cnt",
            (F.floor(q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias("lift"),
        )
    )


@_register(
    "customer_order_intervals",
    """
    WITH seq AS (
      SELECT o_custkey,
             CAST(date_diff('day',
               lag(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS INTEGER) AS gap_days
      FROM orders
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_gaps,
           floor(CAST(sum(gap_days) AS BIGINT) * 1.0 / count(*)
                 * 1000000 + 0.5) / 1000000.0 AS avg_gap_days,
           max(gap_days) AS max_gap_days
    FROM seq WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
    "Inter-purchase interval statistics: per-customer event-time "
    "lag() (one shuffle on the customer key), day gaps between "
    "consecutive orders, then per-customer count/avg/max. The "
    "recency-cadence feature underlying churn/LTV models; the window "
    "partitioning reuses the same exchange for the follow-up groupBy",
    ("window", "agg", "orders"),
)
def customer_order_intervals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    avg_q = F.sum("gap_days") * F.lit(1.0) / F.count("*")
    return seq.groupBy("o_custkey").agg(
        F.count("*").alias("n_gaps"),
        (F.floor(avg_q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "avg_gap_days"
        ),
        F.max("gap_days").alias("max_gap_days"),
    )


@_register(
    "skyline_parts_price_size",
    """
    WITH d AS (
      SELECT p_retailprice AS price, p_size AS size,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT price, size, n_parts
    FROM d
    WHERE NOT EXISTS (
      SELECT 1 FROM d d2
      WHERE d2.price <= d.price AND d2.size >= d.size
        AND (d2.price < d.price OR d2.size > d.size)
    )
    """,
    "Skyline (Pareto frontier) query — minimize price, maximize "
    "size — rewritten from the O(n²) NOT-EXISTS dominance test into "
    "a sort + running-max scan: after deduping to distinct "
    "(price,size) points, sort by (price asc, size desc); a point is "
    "dominated iff a strictly-preceding point has size ≥ its own. "
    "Runs as two phases — per-partition local skyline (dominance is "
    "distributive: local losers can never be global winners), then "
    "the tiny survivor set through one global window — so no single "
    "node ever sorts the full input",
    ("window", "skyline", "sort"),
)
def skyline_parts_price_size(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    d = p.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    ).agg(F.count("*").alias("n_parts"))

    def prune(df, *partition_cols):
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col("price").asc(), F.col("size").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
            if partition_cols
            else Window.orderBy(F.col("price").asc(), F.col("size").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        m = F.max("size").over(w)
        return df.withColumn("_m", m).filter(
            F.col("_m").isNull() | (F.col("_m") < F.col("size"))
        ).drop("_m")

    local = prune(d.withColumn("_pid", F.spark_partition_id()), "_pid").drop(
        "_pid"
    )
    return prune(local).select("price", "size", "n_parts")


@_register(
    "rfm_segmentation_customers",
    """
    WITH cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 4) AS monetary
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS INTEGER)
             AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INTEGER)
             AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INTEGER)
             AS m_score
    FROM cust
    """,
    "RFM customer segmentation: per-customer recency/frequency/"
    "monetary rollup (one fact-keyed aggregate), then quartile scores "
    "via ntile with a deterministic (metric, key) tie order. The "
    "three global ntiles run over #customers rows, not orders; at "
    "larger scale swap exact ntile for percentile-threshold buckets "
    "(winsorize_bounds_lineitem shows the broadcast-clamp shape)",
    ("window", "agg", "orders", "segmentation"),
)
def rfm_segmentation_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    def score(col):
        return F.ntile(4).over(
            Window.orderBy(F.col(col), F.col("o_custkey"))
        ).cast("int")
    return cust.select(
        "o_custkey",
        "frequency",
        "monetary",
        score("last_order").alias("r_score"),
        score("frequency").alias("f_score"),
        score("monetary").alias("m_score"),
    )


@_register(
    "revenue_gini_by_segment",
    """
    WITH cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             round(sum(o.o_totalprice), 4) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, rev,
             CAST(row_number() OVER (PARTITION BY segment
                                     ORDER BY rev, o_custkey) AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
      FROM cust
    )
    SELECT segment, CAST(min(n) AS BIGINT) AS n_customers,
           round(sum((2 * i - n - 1) * rev), 4) AS gini_num,
           round(min(n) * sum(rev), 4) AS gini_den
    FROM ranked GROUP BY segment
    """,
    "Revenue-concentration (Gini) report per market segment: "
    "customer revenue ranked within segment (deterministic (rev, "
    "key) order), Gini numerator Σ(2i−n−1)·rev and denominator "
    "n·Σrev emitted separately so both engines round the same "
    "2-decimal-money sums rather than a division of two "
    "accumulations; gini = num/den at read time. One fact aggregate, "
    "one #customers-sized window",
    ("window", "agg", "orders", "inequality"),
)
def revenue_gini_by_segment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cust = (
        o.join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("segment"),
                )
            ),
            "o_custkey",
        )
        .groupBy("segment", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
    )
    w = Window.partitionBy("segment").orderBy("rev", "o_custkey")
    ranked = cust.select(
        "segment",
        "rev",
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(Window.partitionBy("segment")).alias("n"),
    )
    return ranked.groupBy("segment").agg(
        F.min("n").alias("n_customers"),
        F.round(F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("rev")), 4).alias(
            "gini_num"
        ),
        F.round(F.min("n") * F.sum("rev"), 4).alias("gini_den"),
    )


@_register(
    "decimal_exact_revenue",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS gross,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2))
                       - CAST(l_discount AS DECIMAL(3,2))))
                AS DECIMAL(38,4)) AS net
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Exact money arithmetic: prices cast to DECIMAL(18,2) and "
    "discounts to DECIMAL(3,2) BEFORE aggregation, so gross and "
    "discounted revenue are exact decimal sums — no float "
    "accumulation error, no rounding discipline needed; the outputs "
    "hash-match as exact decimal strings. Final casts pin the "
    "result scale because Spark and DuckDB propagate decimal "
    "precision differently even when the VALUES are identical",
    ("agg", "decimal", "lineitem"),
)
def decimal_exact_revenue(spark, sf_dir):
    from ....sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS gross,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(3,2))))
                    AS DECIMAL(38,4)) AS net
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@_register(
    "woe_price_bins_lineitem",
    """
    WITH binned AS (
      SELECT l_returnflag = 'R' AS bad,
             ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bin
      FROM lineitem
    ),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_bad) AS BIGINT) AS tot_bad,
             CAST(sum(n - n_bad) AS BIGINT) AS tot_good
      FROM per_bin
    )
    SELECT bin, n, n_bad,
           round(ln((n_bad * 1.0 / tot_bad)
                    / ((n - n_bad) * 1.0 / tot_good)), 4) + 0.0 AS woe,
           round((n_bad * 1.0 / tot_bad - (n - n_bad) * 1.0 / tot_good)
                 * ln((n_bad * 1.0 / tot_bad)
                      / ((n - n_bad) * 1.0 / tot_good)), 6) + 0.0
             AS iv_contrib
    FROM per_bin CROSS JOIN tot
    """,
    "Weight-of-evidence / information-value feature binning (the "
    "credit-scoring & feature-selection primitive): deterministic "
    "decile bins over price (ntile semantics with a total tie "
    "order), per-bin bad-rate odds vs the corpus, ln-odds WOE and "
    "IV contribution. The ENGINE computes the bins via scale.py::"
    "dense_ids (range-partitioned parallel sort, partition-offset "
    "ranks) + ntile's bin-size arithmetic — no single-partition "
    "window; the oracle states the same bins with ntile. The "
    "binned target join is a broadcast of 2 totals",
    ("feature", "binning", "agg", "lineitem"),
)
def woe_price_bins_lineitem(spark, sf_dir):
    from ....operators.scale import dense_ids

    li = _t(spark, sf_dir, "lineitem")
    # ntile(10) over a total order WITHOUT the single-partition sort:
    # dense_ids gives the 0-based global rank r via range-partitioned
    # parallel sort; ntile's bin-size rule is then pure arithmetic —
    # the first (N mod 10) bins hold ceil(N/10) rows, the rest
    # floor(N/10) — so the bins bit-match DuckDB's ntile.
    proj = li.select(
        (F.col("l_returnflag") == "R").alias("bad"),
        "l_extendedprice", "l_orderkey", "l_linenumber",
    )
    ranked = dense_ids(
        proj, "l_extendedprice", "l_orderkey", "l_linenumber", id_col="r"
    )
    tot_n = proj.agg(F.count("*").alias("n_total"))
    base = F.floor(F.col("n_total") / 10)
    rem = F.col("n_total") % 10
    big = base + 1  # rows per bin in the first `rem` bins
    bin_col = F.when(
        F.col("r") < rem * big, F.floor(F.col("r") / big) + 1
    ).otherwise(
        rem
        + F.floor((F.col("r") - rem * big) / F.greatest(base, F.lit(1)))
        + 1
    )
    binned = ranked.crossJoin(F.broadcast(tot_n)).select(
        "bad", bin_col.cast("int").alias("bin")
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).alias("n_bad"),
    # 10-row aggregate with two consumers (the totals and the final
    # select) — without the checkpoint each consumer re-ran the whole
    # dense_ids + binning pass (r9 profile: 1.8 s + 0.9 s jobs)
    ).localCheckpoint(eager=False)
    tot = per_bin.agg(
        F.sum("n_bad").alias("tot_bad"),
        F.sum(F.col("n") - F.col("n_bad")).alias("tot_good"),
    )
    bad_share = F.col("n_bad") * 1.0 / F.col("tot_bad")
    good_share = (F.col("n") - F.col("n_bad")) * 1.0 / F.col("tot_good")
    woe = F.log(bad_share / good_share)
    return per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_bad",
        (F.round(woe, 4) + F.lit(0.0)).alias("woe"),
        (F.round((bad_share - good_share) * woe, 6) + F.lit(0.0)).alias(
            "iv_contrib"
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
# Spatial: grid-bucketed radius self-join
# ---------------------------------------------------------------------------

_SPATIAL_R = 1500  # radius AND grid cell size, integer units
_SPATIAL_R2 = _SPATIAL_R * _SPATIAL_R


@_register(
    "spatial_radius_join_customers",
    f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             ((c_custkey % 100000) * (c_custkey % 100000) * 7919
              + c_custkey * 48271) % 100000 AS x,
             ((c_custkey % 100000) * (c_custkey % 100000) * 104729
              + c_custkey * 69621) % 100000 AS y
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x)
        + (a.y - b.y) * (a.y - b.y) <= {_SPATIAL_R2}
    """,
    "Spatial radius self-join WITHOUT a cross product: points land in "
    f"an r={_SPATIAL_R} grid, the left side fans out to its 3x3 "
    "neighbor cells, and candidates meet in ONE hash equi-join on the "
    "cell key; each qualifying pair is emitted exactly once (the "
    "right row's home cell is unique) so no post-join distinct is "
    "needed. The oracle states the O(n^2) truth. Coordinates are "
    "synthesized deterministically (LCG-style integer mix) so both "
    "engines see identical points; distance compares are pure integer "
    "arithmetic. At 100 TB the plan is a scan + one shuffle sized by "
    "9x the points, never points^2.",
    ("spatial", "join", "scale"),
)
def spatial_radius_join_customers(spark, sf_dir):
    # reduce custkey mod 1e5 BEFORE squaring: k²·104729 stays well
    # under int64 at any scale factor (raw custkey² overflowed past
    # ~sf100, where Spark wraps silently but DuckDB errors)
    k = F.col("c_custkey") % 100000
    pts = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("id"),
            ((k * k * 7919 + F.col("c_custkey") * 48271) % 100000).alias("x"),
            ((k * k * 104729 + F.col("c_custkey") * 69621) % 100000).alias("y"),
        )
    )
    r = F.lit(_SPATIAL_R)
    home = pts.withColumn("cx", (F.col("x") / r).cast("long")).withColumn(
        "cy", (F.col("y") / r).cast("long")
    )
    # left side fans out to the 3x3 neighborhood; right side stays in
    # its home cell -> every close pair shares exactly one (cell) key
    probe = (
        home.withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("id").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("dx")).alias("jcx"),
            (F.col("cy") + F.col("dy")).alias("jcy"),
        )
    )
    build = home.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(build, ["jcx", "jcy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(d2 <= F.lit(_SPATIAL_R2))
        .select("id_a", "id_b", d2.cast("long").alias("dist_sq"))
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
# Monthly top-20 revenue leaderboard churn
# ---------------------------------------------------------------------------

_LB_K = 20


@_register(
    "leaderboard_churn_monthly_parts",
    f"""
    WITH rev AS (
      SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             l.l_partkey AS part,
             CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT month, part, rev_cents,
             CAST(row_number() OVER (PARTITION BY month
                                     ORDER BY rev_cents DESC, part ASC)
                  AS INTEGER) AS rk
      FROM rev
    ),
    top AS (SELECT * FROM ranked WHERE rk <= {_LB_K}),
    months AS (
      SELECT month,
             row_number() OVER (ORDER BY month) AS midx
      FROM (SELECT DISTINCT month FROM rev)
    )
    SELECT t.month, t.part, t.rk,
           CAST(p.rk AS INTEGER) AS prev_rk,
           CASE WHEN p.rk IS NULL THEN 'entered'
                WHEN p.rk > t.rk THEN 'up'
                WHEN p.rk < t.rk THEN 'down'
                ELSE 'held' END AS movement
    FROM top t
    JOIN months m ON m.month = t.month
    LEFT JOIN months pm ON pm.midx = m.midx - 1
    LEFT JOIN top p ON p.month = pm.month AND p.part = t.part
    """,
    "Leaderboard churn: each month's top-20 parts by revenue with "
    "their previous-month rank and movement (entered / up / down / "
    "held) — the rank-migration report behind merchandising and "
    "anomaly review. Revenue ranks are deterministic (cents desc, "
    "part asc); the month sequence index makes 'previous month' "
    "gap-proof. Facts collapse to a (month,part) rollup in one "
    "shuffle; the top-20 window and the three months-sized joins run "
    "on the rollup. At 100 TB a rank(≤K) window pushes top-K "
    "per-partition pruning instead of a full sort.",
    ("window", "topk", "analytics", "lineitem"),
)
def leaderboard_churn_monthly_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.trunc(F.col("o_orderdate"), "month").alias("month"),
            F.col("l_partkey").alias("part"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    wrk = Window.partitionBy("month").orderBy(F.desc("rev_cents"), F.asc("part"))
    top = (
        rev.withColumn("rk", F.row_number().over(wrk).cast("int"))
        .filter(F.col("rk") <= _LB_K)
        .select("month", "part", "rk")
    )
    months = (
        rev.select("month")
        .distinct()
        .withColumn("midx", F.row_number().over(Window.orderBy("month")))
    )
    prev_m = months.select(
        F.col("midx").alias("pmidx"), F.col("month").alias("pmonth")
    )
    prev_top = top.select(
        F.col("month").alias("pmonth"),
        F.col("part").alias("part"),
        F.col("rk").alias("prev_rk"),
    )
    movement = (
        F.when(F.col("prev_rk").isNull(), "entered")
        .when(F.col("prev_rk") > F.col("rk"), "up")
        .when(F.col("prev_rk") < F.col("rk"), "down")
        .otherwise("held")
    )
    return (
        top.join(F.broadcast(months), "month")
        .join(
            F.broadcast(prev_m), F.col("pmidx") == F.col("midx") - 1, "left"
        )
        .join(prev_top, ["pmonth", "part"], "left")
        .select("month", "part", "rk", F.col("prev_rk").cast("int").alias("prev_rk"),
                movement.alias("movement"))
    )


# ---------------------------------------------------------------------------
# Mix-shift decomposition of average order value, 1995 → 1996
# ---------------------------------------------------------------------------

@_register(
    "mix_shift_decomposition_segments",
    """
    WITH cells AS (
      SELECT c.c_mktsegment AS segment,
             CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT yr, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1
    ),
    w AS (
      SELECT c.segment,
             max(CASE WHEN c.yr = 1995 THEN c.n END) AS n_p,
             max(CASE WHEN c.yr = 1996 THEN c.n END) AS n_c,
             max(CASE WHEN c.yr = 1995 THEN c.s END) AS s_p,
             max(CASE WHEN c.yr = 1996 THEN c.s END) AS s_c,
             max(CASE WHEN t.yr = 1995 THEN t.nt END) AS nt_p,
             max(CASE WHEN t.yr = 1996 THEN t.nt END) AS nt_c
      FROM cells c CROSS JOIN tot t
      GROUP BY 1
    )
    SELECT segment,
           floor(n_p / CAST(nt_p AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share_prev,
           floor(n_c / CAST(nt_c AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share_cur,
           floor(s_p / CAST(n_p AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS aov_prev_cents,
           floor(s_c / CAST(n_c AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS aov_cur_cents,
           floor((n_p / CAST(nt_p AS DOUBLE))
                 * (s_c / CAST(n_c AS DOUBLE) - s_p / CAST(n_p AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS rate_effect_cents,
           floor((n_c / CAST(nt_c AS DOUBLE) - n_p / CAST(nt_p AS DOUBLE))
                 * (s_c / CAST(n_c AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS mix_effect_cents
    FROM w
    """,
    "Mix-shift decomposition of the year-over-year change in average "
    "order value (1995 → 1996) across customer segments: per "
    "segment, Δ splits into a RATE effect (prev share × AOV change) "
    "and a MIX effect (share change × current AOV), which together "
    "sum exactly to the overall AOV delta — the 'why did the metric "
    "move' answer every metrics review asks for. One partition-"
    "pruned scan → 2×5 integer cells; all shares/AOVs/effects are "
    "pinned IEEE expressions over exact integer-cent sums.",
    ("analytics", "decomposition", "orders"),
)
def mix_shift_decomposition_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yr = F.year(F.col("o_orderdate"))
    cells = (
        o.filter(yr.isin(1995, 1996))
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), yr.cast("int").alias("yr")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        )
    )
    tot = cells.groupBy("yr").agg(F.sum("n").alias("nt"))

    def pick(col, y):
        return F.max(F.when(F.col("yr2") == y, F.col(col)))

    w = (
        cells.crossJoin(F.broadcast(tot.select(F.col("yr").alias("yr2"), "nt")))
        .groupBy("segment")
        .agg(
            F.max(F.when(F.col("yr") == 1995, F.col("n"))).alias("n_p"),
            F.max(F.when(F.col("yr") == 1996, F.col("n"))).alias("n_c"),
            F.max(F.when(F.col("yr") == 1995, F.col("s"))).alias("s_p"),
            F.max(F.when(F.col("yr") == 1996, F.col("s"))).alias("s_c"),
            pick("nt", 1995).alias("nt_p"),
            pick("nt", 1996).alias("nt_c"),
        )
    )
    share_p = F.col("n_p") / F.col("nt_p").cast("double")
    share_c = F.col("n_c") / F.col("nt_c").cast("double")
    aov_p = F.col("s_p") / F.col("n_p").cast("double")
    aov_c = F.col("s_c") / F.col("n_c").cast("double")
    r4 = lambda c_: F.floor(c_ * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return w.select(
        "segment",
        _r6(share_p).alias("share_prev"),
        _r6(share_c).alias("share_cur"),
        r4(aov_p).alias("aov_prev_cents"),
        r4(aov_c).alias("aov_cur_cents"),
        r4(share_p * (aov_c - aov_p)).alias("rate_effect_cents"),
        r4((share_c - share_p) * aov_c).alias("mix_effect_cents"),
    )


@_register(
    "runtime_filter_asia_revenue",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
    "Dynamic runtime filter (dimension-to-fact pushdown): the ASIA "
    "customer keys collect once (broadcast-build cost class) and "
    "push into the orders scan as an In predicate via scale.py::"
    "runtime_in_filter — non-qualifying orders die inside the scan's "
    "codegen stage BEFORE the join shuffle, the generalization of "
    "dynamic partition pruning to arbitrary keys; above the key-set "
    "guard the operator degrades to a broadcast semi-join with the "
    "identical result. The oracle states the plain four-table join "
    "truth; revenue is exact integer cents",
    ("scale", "runtime-filter", "join", "orders"),
)
def runtime_filter_asia_revenue(spark, sf_dir):
    from ....operators.scale import runtime_in_filter

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dim = (
        c.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                    n.n_regionkey == r.r_regionkey,
                )
            ),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    filtered = runtime_in_filter(o, dim, "o_custkey", "c_custkey")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        filtered.join(
            F.broadcast(dim), filtered.o_custkey == dim.c_custkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Apriori-pruned frequent item triples (the step beyond pair mining)
# ---------------------------------------------------------------------------

_TRIPLE_MIN_SUPPORT = 2


@_register(
    "market_basket_triples",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs_all AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q,
             CAST(count(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_TRIPLE_MIN_SUPPORT}
    ),
    pairs AS (
      -- 20k cap (support desc, keys asc) bounds the candidate
      -- self-join on 10x-denser corpora; a no-op at current SFs
      SELECT p, q FROM (
        SELECT p, q, row_number() OVER (ORDER BY w DESC, p, q) AS rk
        FROM pairs_all
      ) WHERE rk <= 20000
    ),
    cand AS (
      -- apriori: a frequent triple requires ALL THREE sub-pairs
      -- frequent; joining (p,q)+(p,r) then checking (q,r) prunes
      -- the candidate space before ever touching baskets again
      SELECT x.p AS a, x.q AS b, y.q AS c
      FROM pairs x
      JOIN pairs y ON y.p = x.p AND y.q > x.q
      JOIN pairs z ON z.p = x.q AND z.q = y.q
    ),
    support AS (
      SELECT cd.a, cd.b, cd.c, CAST(count(*) AS BIGINT) AS support
      FROM cand cd
      JOIN items ia ON ia.l_partkey = cd.a
      JOIN items ib ON ib.l_orderkey = ia.l_orderkey
                   AND ib.l_partkey = cd.b
      JOIN items ic ON ic.l_orderkey = ia.l_orderkey
                   AND ic.l_partkey = cd.c
      GROUP BY 1, 2, 3
      HAVING count(*) >= {_TRIPLE_MIN_SUPPORT}
    )
    SELECT a AS part_a, b AS part_b, c AS part_c, support
    FROM support
    """,
    "Frequent item TRIPLES with apriori candidate pruning — the "
    "step beyond `market_basket_pairs` that demonstrates why "
    "frequent-itemset mining scales at all: a triple can only be "
    f"frequent (support >= {_TRIPLE_MIN_SUPPORT}) if all three of "
    "its sub-pairs are, so candidates come from self-joining the "
    "pruned pair list and checking the third edge BEFORE any "
    "basket re-scan — the downward-closure property that turns an "
    "O(n^3) enumeration into joins on an already-tiny frequent-"
    "pair table. Support counting then probes the basket index "
    "once per candidate. All integer counts; order-keyed joins "
    "bound the fan-out by basket size.",
    ("mining", "itemsets", "lineitem"),
)
def market_basket_triples(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").dropDuplicates(
    ).localCheckpoint(eager=False)
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("q"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _TRIPLE_MIN_SUPPORT)
        # TakeOrdered 20k cap bounds the apriori candidate self-join
        # on 10x-denser corpora (no-op today)
        .orderBy(F.col("cnt").desc(), F.col("p").asc(), F.col("q").asc())
        .limit(20000)
        .select("p", "q")
        .localCheckpoint(eager=False)
    )
    x = pairs.select(F.col("p").alias("xa"), F.col("q").alias("xb"))
    y = pairs.select(F.col("p").alias("ya"), F.col("q").alias("yc"))
    z = pairs.select(F.col("p").alias("za"), F.col("q").alias("zc"))
    cand = (
        x.join(y, (F.col("ya") == F.col("xa")) & (F.col("yc") > F.col("xb")))
        .join(
            z,
            (F.col("za") == F.col("xb")) & (F.col("zc") == F.col("yc")),
        )
        .select(
            F.col("xa").alias("a"),
            F.col("xb").alias("b"),
            F.col("yc").alias("c"),
        )
    )
    ia = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ka"))
    ib = items.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("kb"))
    ic = items.select(F.col("l_orderkey").alias("ok3"), F.col("l_partkey").alias("kc"))
    support = (
        cand.join(ia, F.col("ka") == F.col("a"))
        .join(
            ib,
            (F.col("ok2") == F.col("ok")) & (F.col("kb") == F.col("b")),
        )
        .join(
            ic,
            (F.col("ok3") == F.col("ok")) & (F.col("kc") == F.col("c")),
        )
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _TRIPLE_MIN_SUPPORT)
    )
    return support.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("c").alias("part_c"),
        F.col("support").cast("long").alias("support"),
    )


# ---------------------------------------------------------------------------
# Newsvendor: which stocking quantile minimizes realized cost?
# ---------------------------------------------------------------------------

_NV_LEVELS = (0.5, 0.6, 0.7, 0.8, 0.9)
_NV_CO = 1   # holding (overage) cost per unit
_NV_CU = 3   # stockout (underage) cost per unit


# critical fractile cu/(cu+co) = 0.75 -> the 0.7/0.8 levels should win


@_register(
    "newsvendor_critical_fractile",
    f"""
    WITH daily AS (
      SELECT p.p_brand AS brand,
             CAST(CAST(l.l_shipdate AS DATE) AS DATE) AS day,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    stocks AS (
      SELECT brand,
             {", ".join(
                 f"CAST(ceil(quantile_cont(qty, {q})) AS BIGINT)"
                 f" AS s{int(q * 100)}"
                 for q in _NV_LEVELS)}
      FROM daily GROUP BY 1
    ),
    costs AS (
      SELECT d.brand,
             {", ".join(
                 f"CAST(sum({_NV_CO} * greatest(s.s{int(q * 100)} - d.qty, 0)"
                 f" + {_NV_CU} * greatest(d.qty - s.s{int(q * 100)}, 0))"
                 f" AS BIGINT) AS c{int(q * 100)}"
                 for q in _NV_LEVELS)}
      FROM daily d JOIN stocks s ON s.brand = d.brand
      GROUP BY 1
    ),
    unp AS (
      {" UNION ALL ".join(
          f"SELECT brand, CAST({q!r} AS DOUBLE) AS service_level, "
          f"c{int(q * 100)} AS realized_cost FROM costs"
          for q in _NV_LEVELS)}
    ),
    best AS (
      SELECT brand, service_level FROM (
        SELECT brand, service_level,
               row_number() OVER (PARTITION BY brand
                                  ORDER BY realized_cost ASC,
                                           service_level ASC) AS rk
        FROM unp
      ) WHERE rk = 1
    )
    SELECT u.brand, u.service_level, u.realized_cost,
           u.service_level = b.service_level AS is_best
    FROM unp u JOIN best b ON b.brand = u.brand
    """,
    "Newsvendor stocking evaluation: per brand, five candidate "
    "service levels set stock at the (exact, interpolated, "
    "ceil'd) quantile of daily demand, and each is scored by the "
    f"REALIZED cost over the whole history (overage {_NV_CO}/unit, "
    f"underage {_NV_CU}/unit — critical fractile "
    f"{_NV_CU}/({_NV_CU}+{_NV_CO}) = 0.75, so theory says the "
    "0.7-0.8 levels win, and the integer cost columns let the "
    "data agree or disagree exactly). The decision-theoretic "
    "companion to `inventory_ss_policy_replay` (fixed rule "
    "replay) and `croston_intermittent_demand` (forecasting): "
    "choose the RULE by backtest, not by faith. One demand "
    "rollup, one quantile pass, one cost join — brand-grid sized "
    "after the fact scan.",
    ("supply-chain", "decision", "quantile", "lineitem"),
)
def newsvendor_critical_fractile(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    daily = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .localCheckpoint(eager=False)
    )
    stocks = daily.groupBy("brand").agg(
        *[
            F.ceil(F.expr(f"percentile(qty, {q})")).cast("long").alias(
                f"s{int(q * 100)}"
            )
            for q in _NV_LEVELS
        ]
    )
    costs = (
        daily.join(F.broadcast(stocks), "brand")
        .groupBy("brand")
        .agg(
            *[
                F.sum(
                    _NV_CO
                    * F.greatest(
                        F.col(f"s{int(q * 100)}") - F.col("qty"), F.lit(0)
                    )
                    + _NV_CU
                    * F.greatest(
                        F.col("qty") - F.col(f"s{int(q * 100)}"), F.lit(0)
                    )
                ).alias(f"c{int(q * 100)}")
                for q in _NV_LEVELS
            ]
        )
        .localCheckpoint(eager=False)
    )
    unp = None
    for q in _NV_LEVELS:
        one = costs.select(
            "brand",
            F.lit(float(q)).alias("service_level"),
            F.col(f"c{int(q * 100)}").cast("long").alias("realized_cost"),
        )
        unp = one if unp is None else unp.unionAll(one)
    from pyspark.sql import Window

    rk = Window.partitionBy("brand").orderBy(
        F.col("realized_cost").asc(), F.col("service_level").asc()
    )
    best = (
        unp.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("brand", F.col("service_level").alias("best_level"))
    )
    return unp.join(F.broadcast(best), "brand").select(
        "brand",
        "service_level",
        "realized_cost",
        (F.col("service_level") == F.col("best_level")).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Active-order concurrency: the +1/-1 boundary sweep
# ---------------------------------------------------------------------------


@_register(
    "active_orders_peak",
    """
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS start_day,
             CAST(max(l.l_shipdate) AS DATE) AS end_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    deltas AS (
      SELECT start_day AS day, CAST(count(*) AS BIGINT) AS d FROM spans
      GROUP BY 1
      UNION ALL
      SELECT CAST(end_day + INTERVAL 1 DAY AS DATE),
             CAST(-count(*) AS BIGINT) FROM spans
      GROUP BY 1
    ),
    merged AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS d FROM deltas GROUP BY 1
    ),
    swept AS (
      SELECT day,
             CAST(sum(d) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS active
      FROM merged
    ),
    mx AS (SELECT CAST(max(active) AS BIGINT) AS peak FROM swept)
    SELECT s.day, s.active, s.active = m.peak AS is_peak
    FROM swept s CROSS JOIN mx m
    """,
    "Active-order concurrency sweep — the work-in-progress curve "
    "operations actually staffs against: each order is open from "
    "placement until its last lineitem ships, and the classic "
    "+1/-1 boundary sweep (deltas at the endpoints, one running "
    "sum) produces the daily count of simultaneously-open orders "
    "with the peak flagged — O(boundaries), never O(days x "
    "orders). At 100 TB the sweep runs on the date-grained delta "
    "table (~2,400 rows at ANY fact scale); the generic pattern "
    "behind peak-concurrency, room-occupancy and connection-pool "
    "sizing questions, complementing `interval_overlap_user_"
    "incidents` (pairwise) and `interval_union_by_user` "
    "(coverage).",
    ("interval", "sweep", "ops", "orders"),
)
def active_orders_peak(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("start_day"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("end_day"))
        .localCheckpoint(eager=False)
    )
    starts = spans.groupBy(F.col("start_day").alias("day")).agg(
        F.count("*").alias("d")
    )
    ends = spans.groupBy(
        F.date_add(F.col("end_day"), 1).alias("day")
    ).agg((-F.count("*")).alias("d"))
    merged = starts.unionAll(ends).groupBy("day").agg(
        F.sum("d").alias("d")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    swept = merged.select(
        "day", F.sum("d").over(w).alias("active")
    ).localCheckpoint(eager=False)
    mx = swept.agg(F.max("active").alias("peak"))
    return swept.crossJoin(F.broadcast(mx)).select(
        "day",
        F.col("active").cast("long").alias("active"),
        (F.col("active") == F.col("peak")).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# Order backlog aging buckets at the corpus watermark
# ---------------------------------------------------------------------------

_AGE_BUCKETS = ((0, 30), (31, 90), (91, 180), (181, 100000))


@_register(
    "order_backlog_aging",
    f"""
    WITH wm AS (
      SELECT max(CAST(l_shipdate AS DATE)) - INTERVAL 90 DAY AS t
      FROM lineitem
    ),
    order_ship AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS placed,
             CAST(max(floor(o.o_totalprice * 100)) AS BIGINT) AS cents,
             max(CAST(l.l_shipdate AS DATE)) AS last_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    aged AS (
      -- open at snapshot T = watermark - 90d: placed on/before T,
      -- finishes shipping strictly after T
      SELECT s.o_orderkey, s.cents,
             date_diff('day', s.placed, CAST(w.t AS DATE)) AS age_days
      FROM order_ship s CROSS JOIN wm w
      WHERE s.placed <= CAST(w.t AS DATE) AND s.last_ship > CAST(w.t AS DATE)
    )
    {" UNION ALL ".join(
        f'''SELECT '{lo}-{hi if hi < 100000 else "plus"}' AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(coalesce(sum(cents), 0) AS BIGINT) AS value_cents
        FROM aged WHERE age_days BETWEEN {lo} AND {hi}'''
        for lo, hi in _AGE_BUCKETS)}
    """,
    "Order-backlog aging — the AR-style bucket report for "
    "unfulfilled work: orders open at the snapshot T = watermark "
    "minus 90 days (placed on/before T, last lineitem ships after "
    "T), bucketed by days since placement (0-30/31-90/91-180/181+) "
    "with order counts and value at risk in exact cents. The aging "
    "shape is the fulfillment-health readout (mass in 181+ means "
    "stuck orders, not volume) — the stock snapshot complementing "
    "`active_orders_peak`\'s flow curve. Watermark-anchored for "
    "fixture reproducibility; one fact join, grid-sized output.",
    ("bi", "aging", "ops", "orders"),
)
def order_backlog_aging(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    wm = li.agg(
        F.date_sub(F.max(F.col("l_shipdate").cast("date")), 90).alias("t")
    )
    order_ship = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("placed"),
        )
        .agg(
            F.max(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
            F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
        )
    )
    aged = (
        order_ship.crossJoin(F.broadcast(wm))
        .filter(
            (F.col("placed") <= F.col("t"))
            & (F.col("last_ship") > F.col("t"))
        )
        .select(
            "cents", F.datediff(F.col("t"), F.col("placed")).alias("age_days")
        )
        .localCheckpoint(eager=False)
    )
    out = None
    for lo, hi in _AGE_BUCKETS:
        label = f"{lo}-{hi if hi < 100000 else 'plus'}"
        one = aged.filter(
            F.col("age_days").between(lo, hi)
        ).agg(
            F.count("*").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("value_cents"),
        ).select(
            F.lit(label).alias("age_bucket"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("value_cents").cast("long").alias("value_cents"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Fulfillment latency percentiles by order priority (the SLA table)
# ---------------------------------------------------------------------------


@_register(
    "fulfillment_latency_by_priority",
    """
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       min(CAST(l.l_shipdate AS DATE))) AS first_ship_days,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       max(CAST(l.l_shipdate AS DATE))) AS full_ship_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(quantile_cont(first_ship_days, 0.5), 4)
             AS first_ship_p50,
           round(quantile_cont(first_ship_days, 0.9), 4)
             AS first_ship_p90,
           round(quantile_cont(full_ship_days, 0.5), 4)
             AS full_ship_p50,
           round(quantile_cont(full_ship_days, 0.9), 4)
             AS full_ship_p90,
           CAST(sum(CASE WHEN full_ship_days > 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS breaches_90d
    FROM lat GROUP BY 1
    """,
    "Fulfillment-latency SLA table: per order priority, exact "
    "interpolated p50/p90 of days from placement to FIRST shipment "
    "(responsiveness) and to LAST shipment (completion), plus "
    "orders breaching a 90-day completion SLA — the table an ops "
    "review actually reads, and the one that exposes whether "
    "'URGENT' priority buys anything (compare the p90 columns "
    "across rows). Integer day latencies, the oracle-proven "
    "percentile/quantile_cont pairing, one order-keyed rollup to "
    "a 5-row grid.",
    ("bi", "sla", "latency", "orders"),
)
def fulfillment_latency_by_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lat = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(
                F.min(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).alias("first_ship_days"),
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).alias("full_ship_days"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            "first_ship_days",
            "full_ship_days",
        )
    )

    def pct(col, q, name):
        return (
            F.round(F.expr(f"percentile({col}, {q})"), 4) + F.lit(0.0)
        ).alias(name)

    return lat.groupBy("priority").agg(
        F.count("*").alias("n_orders"),
        pct("first_ship_days", 0.5, "first_ship_p50"),
        pct("first_ship_days", 0.9, "first_ship_p90"),
        pct("full_ship_days", 0.5, "full_ship_p50"),
        pct("full_ship_days", 0.9, "full_ship_p90"),
        F.sum(F.when(F.col("full_ship_days") > 90, 1).otherwise(0))
        .cast("long")
        .alias("breaches_90d"),
    )


@_register(
    "supplier_scorecard",
    """
    WITH per_supp AS (
      SELECT l.l_suppkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returns,
             CAST(sum(CASE WHEN date_diff('day',
                    CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) <= 30
                  THEN 1 ELSE 0 END) AS BIGINT) AS on_time_lines
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ),
    scored AS (
      SELECT s.s_suppkey, s.s_name,
             p.n_lines, p.revenue_cents,
             CAST(p.n_returns * 1000000 // p.n_lines AS BIGINT)
               AS return_ppm,
             CAST(p.on_time_lines * 1000000 // p.n_lines AS BIGINT)
               AS on_time_ppm,
             -- composite: on-time share minus return share, in ppm
             CAST(p.on_time_lines * 1000000 // p.n_lines
                  - p.n_returns * 1000000 // p.n_lines AS BIGINT)
               AS score_ppm
      FROM per_supp p JOIN supplier s ON s.s_suppkey = p.l_suppkey
    )
    SELECT s_suppkey, s_name, n_lines, revenue_cents,
           return_ppm, on_time_ppm, score_ppm,
           CAST(row_number() OVER (ORDER BY score_ppm DESC,
                                   revenue_cents DESC, s_suppkey ASC)
                AS INTEGER) AS rank
    FROM scored
    """,
    "Supplier scorecard — the procurement-review composite: per "
    "supplier, line volume, exact revenue cents, return rate and "
    "30-day on-time-ship rate (both integer ppm), a transparent "
    "composite score (on-time minus returns) and a fully "
    "tie-broken rank. Deliberately integer end to end so the "
    "ranking is bit-deterministic and auditable — composites with "
    "float weights invite 'why did my rank change' tickets. One "
    "fact join keyed on suppkey; the oracle states the rank with a "
    "global row_number, the ENGINE ranks the supplier grid with "
    "operators/scale.py::dense_ids (range-partitioned parallel "
    "sort + partition-offset ids — same total order, no "
    "single-partition Exchange). Draws together the quality "
    "(`shrunken_return_rates_parts`), latency "
    "(`fulfillment_latency_by_priority`) and concentration "
    "(`hhi_supplier_concentration`) threads into one operational "
    "artifact.",
    ("bi", "scorecard", "lineitem"),
)
def supplier_scorecard(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    per_supp = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("long")
            ).alias("revenue_cents"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returns"),
            F.sum(
                F.when(
                    F.datediff(
                        F.col("l_shipdate").cast("date"),
                        F.col("o_orderdate").cast("date"),
                    )
                    <= 30,
                    1,
                ).otherwise(0)
            ).alias("on_time_lines"),
        )
    )
    scored = per_supp.join(
        F.broadcast(s), s.s_suppkey == per_supp.l_suppkey
    ).select(
        "s_suppkey",
        "s_name",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("revenue_cents").cast("long").alias("revenue_cents"),
        F.expr("n_returns * 1000000 div n_lines")
        .cast("long")
        .alias("return_ppm"),
        F.expr("on_time_lines * 1000000 div n_lines")
        .cast("long")
        .alias("on_time_ppm"),
        F.expr(
            "on_time_lines * 1000000 div n_lines"
            " - n_returns * 1000000 div n_lines"
        )
        .cast("long")
        .alias("score_ppm"),
    )
    # Rank WITHOUT a global single-partition window: the supplier
    # grid is SF×10k rows (~1B at the 100 TB regime), so
    # row_number() OVER (ORDER BY ...) would funnel it through one
    # task. dense_ids orders ascending — negate the DESC keys;
    # (score_ppm, revenue_cents, s_suppkey) is a unique key so the
    # total order (and therefore rank) is identical to the oracle's.
    from ....operators.scale import dense_ids

    ranked = dense_ids(
        scored.withColumn("_neg_score", -F.col("score_ppm")).withColumn(
            "_neg_rev", -F.col("revenue_cents")
        ),
        "_neg_score",
        "_neg_rev",
        "s_suppkey",
        id_col="_r",
    )
    return ranked.select(
        "s_suppkey",
        "s_name",
        "n_lines",
        "revenue_cents",
        "return_ppm",
        "on_time_ppm",
        "score_ppm",
        (F.col("_r") + 1).cast("int").alias("rank"),
    )
