"""TPC-H-shaped plans over the trimmed star schema (no partsupp table
in the fixtures, so q02/q09/q11/q16/q20 shapes are adapted).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...core import _register, _stable_avg4, _t


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.3/2.4/2.6/2.8/2.9 + §2.7 analytic windows)
# ---------------------------------------------------------------------------

@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           floor(round(sum(l_quantity), 2) / count(*) * 10000 + 0.5) / 10000.0      AS avg_qty,
           floor(round(sum(l_extendedprice), 2) / count(*) * 10000 + 0.5) / 10000.0 AS avg_price,
           floor(round(sum(l_discount), 2) / count(*) * 10000 + 0.5) / 10000.0      AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style pricing summary: scan-heavy groupBy/agg (A1/A4 family)",
    ("agg", "flagship"),
)
def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            _stable_avg4(F.sum("l_quantity"), F.count("*")).alias("avg_qty"),
            _stable_avg4(F.sum("l_extendedprice"), F.count("*")).alias("avg_price"),
            _stable_avg4(F.sum("l_discount"), F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "q03_shipping_priority",
    """
    SELECT l.l_orderkey AS o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01'
      AND l.l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q3-style: 3-way join + agg + top-k by aggregate (J2/O2)",
    ("join", "agg", "topk"),
)
def q03_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("o_orderkey"), "o_orderdate", "o_orderpriority"
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_register(
    "q05_region_revenue",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    "TPC-H Q5-style 6-way join: broadcast small dims, shuffle facts (J1/J2)",
    ("join", "agg", "broadcast"),
)
def q05_region_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    # region/nation are always tiny → explicit broadcast; customer/supplier
    # joins stay shuffle joins (AQE may still broadcast them at small SF).
    dims = F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(dims, c.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@_register(
    "q06_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6-style: pure filter + global agg; predicate-pushdown showcase (P3/F11)",
    ("filter", "agg", "pushdown"),
)
def q06_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           round(c.c_acctbal, 4) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10-style returned-item ranking (join+agg+topk)",
    ("join", "agg", "topk"),
)
def q10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_register(
    "q18_large_orders",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 4) AS o_totalprice,
           round(sum(l.l_quantity), 4) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    "TPC-H Q18-style: semi-join against HAVING subquery (J family + A4)",
    ("join", "agg", "semi"),
)
def q18_large_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 150)
        .select("l_orderkey")
    )
    return (
        l.join(big.withColumnRenamed("l_orderkey", "_bk"),
               F.col("l_orderkey") == F.col("_bk"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"), "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Batch SQL depth: TPC-H-shaped plans over the trimmed star schema
# (no partsupp table in the fixtures; q09/q17 shapes adapted). These
# exercise EXISTS / NOT EXISTS, correlated scalar subqueries,
# nation-pair self-joins, two-level aggregation, disjunctive
# pushdown, ROLLUP, and exact percentiles/statistical aggregates —
# the SQL surface SURVEY §2.4/§2.6/§2.7 commits the engine to.
# ---------------------------------------------------------------------------


@_register(
    "q04_order_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS correlated subquery → left-semi join + "
    "grouped count (reference J-family gap, SURVEY §2.4)",
    ("join", "semi", "tpch"),
)
def q04_order_priority_exists(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_register(
    "q07_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             cast(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                           AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: nation self-joined twice (supplier vs customer "
    "side), disjunctive pair filter, revenue by year — both nation "
    "dims broadcast",
    ("join", "broadcast", "tpch"),
)
def q07_volume_shipping(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    rpair = (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair | rpair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@_register(
    "q09_product_profit",
    """
    SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             cast(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * 0.1 * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
    "TPC-H Q9 shape (partsupp-free: supply cost proxied from "
    "p_retailprice): 5-way join, LIKE pushdown, profit by nation/year",
    ("join", "tpch"),
)
def q09_product_profit(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.1) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 4).alias("sum_profit"))
    )


@_register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    "TPC-H Q13 shape: left join with join-time predicate, two-level "
    "aggregation (count per customer, then histogram of counts)",
    ("join", "agg", "tpch"),
)
def q13_customer_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@_register(
    "q14_promo_revenue",
    """
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) + 0.0
             AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
    "TPC-H Q14 shape: conditional aggregate ratio (promo share of "
    "revenue), broadcast part dim",
    ("agg", "tpch"),
)
def q14_promo_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4) + F.lit(0.0)).alias(
                "promo_revenue"
            )
        )
    )


@_register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
    "TPC-H Q17 shape: correlated scalar subquery (per-part average "
    "quantity threshold) → per-key avg + rejoin in Spark",
    ("join", "subquery", "tpch"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # correlated scalar subquery decorrelated: one per-part aggregate
    # over the full lineitem, rejoined on the key. At 100 TB the agg
    # shuffles (partkey, 2 doubles) only; the threshold side is tiny
    # after the brand filter and broadcasts.
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.round(F.sum("l_extendedprice") / F.lit(7.0), 4)).alias("avg_yearly"))
    )


@_register(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape: disjunctive multi-attribute predicates across "
    "both join sides — Catalyst pushes the brand/size disjunction to "
    "the part scan",
    ("join", "filter", "tpch"),
)
def q19_disjunctive_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond1 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    cond3 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond1 | cond2 | cond3)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@_register(
    "q22_idle_rich_customers",
    """
    SELECT n_name, count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    """,
    "TPC-H Q22 shape: uncorrelated scalar subquery (global avg "
    "threshold) + NOT EXISTS anti-join (no urgent orders — every "
    "fixture customer has ≥1 order, so the anti side is filtered), "
    "grouped by nation",
    ("join", "anti", "subquery", "tpch"),
)
def q22_idle_rich_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    # scalar subquery: single-row aggregate broadcast by crossJoin —
    # no driver collect, stays a lazy plan
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@_register(
    "q08_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_5' THEN volume
                          ELSE 0.0 END) / sum(volume), 4) + 0.0
             AS mkt_share
    FROM (
      SELECT cast(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                            AND TIMESTAMP '1996-12-31'
    ) all_nations
    GROUP BY o_year
    """,
    "TPC-H Q8 shape: market share of one supplier nation within a "
    "customer region — 7-way join (nation twice), conditional-agg "
    "ratio per year",
    ("join", "agg", "tpch"),
)
def q08_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share_num = F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (F.round(F.sum(share_num) / F.sum(vol), 4) + F.lit(0.0)).alias(
                "mkt_share"
            )
        )
    )


@_register(
    "q15_top_revenue_suppliers",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "TPC-H Q15 shape: revenue view + uncorrelated scalar max subquery "
    "— the agg reuses one shuffle, the max broadcasts back as a "
    "single-row join",
    ("join", "subquery", "tpch"),
)
def q15_top_revenue_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 9, 14, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    """,
    "TPC-H Q16 shape: NOT IN anti-subquery on the supplier blacklist "
    "+ exact grouped countDistinct (batch path; streaming twin would "
    "use approx_count_distinct)",
    ("join", "anti", "agg", "tpch"),
)
def q16_supplier_part_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin([1, 9, 14, 23, 36, 45])
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "q02_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice * (1 - l_discount) / l_quantity)
               AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           floor(ps_supplycost * 10000 + 0.5) / 10000.0 AS supplycost
    FROM part
    JOIN ps       ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'ECONOMY' AND p_size <= 25 AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT min(ps2.ps_supplycost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    """,
    "TPC-H Q2 shape (partsupp emulated as per-(part,supplier) min "
    "unit cost derived from lineitem — fixture has no partsupp "
    "table): correlated MIN subquery decorrelated into a grouped "
    "min + equality join, dims broadcast",
    ("join", "subquery", "tpch"),
)
def q02_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 25)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # partsupp stand-in: cheapest observed discounted unit price
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            / F.col("l_quantity")
        ).alias("ps_supplycost")
    )
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_eu = ps.join(
        F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    ).localCheckpoint(eager=False)
    min_eu = ps_eu.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        ps_eu.join(
            min_eu,
            (ps_eu["ps_partkey"] == min_eu["ps_partkey"])
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .drop(min_eu["ps_partkey"])
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            # stable HALF_UP in pure IEEE arithmetic — plain round()
            # diverges between engines when the cost lands exactly on
            # a 4-decimal boundary (see _stable_avg4)
            (
                F.floor(F.col("ps_supplycost") * 10000 + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("supplycost"),
        )
    )


@_register(
    "q11_important_stock",
    """
    SELECT l_partkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS part_value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) > (
      SELECT sum(l_extendedprice * (1 - l_discount)) * 0.001
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7')
    """,
    "TPC-H Q11 shape (stock value emulated as discounted revenue per "
    "part over one nation's suppliers): grouped agg + HAVING against "
    "an uncorrelated scalar-subquery threshold — the single-row "
    "total broadcasts back, no second shuffle of the big side",
    ("agg", "subquery", "tpch"),
)
def q11_important_stock(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    supp7 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = (
        li.join(F.broadcast(supp7), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("pv")
        )
        .localCheckpoint(eager=False)
    )
    total = vals.agg(F.sum("pv").alias("total_pv"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("pv") > F.col("total_pv") * 0.001)
        .select("l_partkey", F.round("pv", 4).alias("part_value"))
    )


@_register(
    "q12_late_shipment_priority",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate BETWEEN TIMESTAMP '1997-01-01'
                         AND TIMESTAMP '1997-12-31'
    GROUP BY l_returnflag
    """,
    "TPC-H Q12 shape (l_shipmode/commitdate absent from fixture — "
    "late shipment = shipped >30 days after order, bucketed by "
    "returnflag): join-time interval arithmetic predicate + "
    "conditional-count pivot by order priority",
    ("join", "agg", "tpch"),
)
def q12_late_shipment_priority(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1997-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q20_excess_shippers",
    """
    WITH pq AS (
      SELECT l_suppkey, l_partkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS qty_96,
             sum(l_quantity) AS qty_all
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY 1, 2
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (SELECT l_suppkey FROM pq
                        WHERE qty_96 > 0.3 * qty_all)
    """,
    "TPC-H Q20 shape (availqty emulated: suppliers who shipped >30% "
    "of their all-time quantity of a 'red%' part during 1996): "
    "correlated-agg IN-subquery decorrelated to a grouped ratio "
    "filter + left-semi join; quantity sums are integer-valued so "
    "the ratio compare is engine-exact",
    ("join", "semi", "subquery", "tpch"),
)
def q20_excess_shippers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    in_96 = F.col("l_shipdate").between(
        F.lit("1996-01-01").cast("timestamp"),
        F.lit("1996-12-31 23:59:59").cast("timestamp"),
    )
    excess = (
        li.join(F.broadcast(red_parts), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_96, F.col("l_quantity")).otherwise(0.0)).alias(
                "qty_96"
            ),
            F.sum("l_quantity").alias("qty_all"),
        )
        .filter(F.col("qty_96") > 0.3 * F.col("qty_all"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@_register(
    "q21_waiting_suppliers",
    """
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, count(*) AS numwait
    FROM lines l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM lines l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s_name
    """,
    "TPC-H Q21 shape (late = shipped >60 days after order date; "
    "fixture lacks commit/receipt dates): the hardest TPC-H plan — "
    "EXISTS (another supplier on the order) as a left-semi join plus "
    "NOT EXISTS (another LATE supplier) as a left-anti join, both "
    "with non-equi supplier-inequality conditions; the shared "
    "order-lines frame is lazily checkpointed so the three uses "
    "don't re-shuffle the base join",
    ("join", "semi", "anti", "tpch"),
)
def q21_waiting_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    lines = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
        .localCheckpoint(eager=False)
    )
    l1 = lines.filter(F.col("late"))
    l2 = lines.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@_register(
    "cube_status_priority_sales",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS INTEGER)   AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_sales
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "CUBE grouping-sets aggregation (all 4 grouping combinations in "
    "one shuffle) with GROUPING() disambiguation of the ALL rows — "
    "completes the rollup/cube/grouping-sets family",
    ("agg", "cube", "tpch"),
)
def cube_status_priority_sales(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_sales"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_sales",
        )
    )


@_register(
    "lineitem_quality_report",
    """
    WITH agg AS (
      SELECT CAST(count_if(l_quantity <= 0) AS BIGINT)   AS qty_nonpositive,
             CAST(count_if(l_discount < 0 OR l_discount > 0.1) AS BIGINT)
               AS discount_out_of_range,
             CAST(count_if(l_shipdate IS NULL) AS BIGINT) AS shipdate_null,
             CAST(count_if(l_extendedprice <
                           l_quantity * 0.9) AS BIGINT)   AS price_below_floor,
             count(*) AS total_rows
      FROM lineitem
    )
    SELECT rule, violations, total_rows,
           round(violations * 1.0 / total_rows, 6) AS violation_ratio
    FROM (
      SELECT 'qty_nonpositive' AS rule, qty_nonpositive AS violations,
             total_rows FROM agg
      UNION ALL
      SELECT 'discount_out_of_range', discount_out_of_range, total_rows
      FROM agg
      UNION ALL
      SELECT 'shipdate_null', shipdate_null, total_rows FROM agg
      UNION ALL
      SELECT 'price_below_floor', price_below_floor, total_rows FROM agg)
    """,
    "Data-contract validation: four expectation rules evaluated as "
    "count_if columns of ONE aggregation pass (adding rules adds "
    "columns, not scans), unpivoted to a per-rule violation report "
    "— the ingestion-gate shape of a training-data pipeline",
    ("quality", "agg", "pipeline", "tpch"),
)
def lineitem_quality_report(spark, sf_dir):
    from ....operators.quality import validate

    li = _t(spark, sf_dir, "lineitem")
    return validate(
        li,
        {
            "qty_nonpositive": F.col("l_quantity") <= 0,
            "discount_out_of_range": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.1),
            "shipdate_null": F.col("l_shipdate").isNull(),
            "price_below_floor": F.col("l_extendedprice")
            < F.col("l_quantity") * 0.9,
        },
    )
