"""Data-quality and governance audits: profiling, drift, integrity and
constraint checks, privacy releases and cardinality estimates.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...core import _r6, _register, _t


@_register(
    "mad_outlier_events",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(min(d.med) * 10000 + 0.5) / 10000.0 AS med_value,
           floor(min(m.mad) * 10000 + 0.5) / 10000.0 AS mad_value,
           CAST(count_if(d.ad > m.mad * 4.4478) AS BIGINT) AS n_outliers,
           floor(count_if(d.ad > m.mad * 4.4478) * 1.0 / count(*)
                 * 1000000 + 0.5) / 1000000.0 AS outlier_frac
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    "Robust outlier detection per group: median + MAD (median "
    "absolute deviation), flagging values beyond 3σ-equivalent "
    "(3·1.4826·MAD) — immune to the outliers themselves, unlike "
    "mean/stddev fences. Two exact-percentile passes (Spark "
    "percentile() ≡ DuckDB quantile_cont()), medians broadcast back "
    "to the scan; the data-cleaning gate for value columns",
    ("agg", "percentile", "quality", "events"),
)
def mad_outlier_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("ad"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = F.col("ad") > F.col("mad") * F.lit(4.4478)
    frac = F.sum(is_out.cast("long")) * F.lit(1.0) / F.count("*")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (F.floor(F.min("med") * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias(
            "med_value"
        ),
        (F.floor(F.min("mad") * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias(
            "mad_value"
        ),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        (F.floor(frac * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "outlier_frac"
        ),
    )


@_register(
    "profile_numeric_lineitem",
    """
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(l_quantity) AS BIGINT)      AS qty_nulls,
             CAST(count(DISTINCT l_quantity) AS BIGINT)        AS qty_dist,
             min(l_quantity) AS qty_min,  max(l_quantity) AS qty_max,
             CAST(count(*) - count(l_extendedprice) AS BIGINT) AS price_nulls,
             CAST(count(DISTINCT l_extendedprice) AS BIGINT)   AS price_dist,
             min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max,
             CAST(count(*) - count(l_discount) AS BIGINT)      AS disc_nulls,
             CAST(count(DISTINCT l_discount) AS BIGINT)        AS disc_dist,
             min(l_discount) AS disc_min, max(l_discount) AS disc_max,
             CAST(count(*) - count(l_tax) AS BIGINT)           AS tax_nulls,
             CAST(count(DISTINCT l_tax) AS BIGINT)             AS tax_dist,
             min(l_tax) AS tax_min, max(l_tax) AS tax_max
      FROM lineitem
    )
    SELECT 'l_quantity' AS column_name, n_rows, qty_nulls AS n_nulls,
           qty_dist AS n_distinct, qty_min AS min_value, qty_max AS max_value
    FROM agg
    UNION ALL
    SELECT 'l_extendedprice', n_rows, price_nulls, price_dist,
           price_min, price_max FROM agg
    UNION ALL
    SELECT 'l_discount', n_rows, disc_nulls, disc_dist,
           disc_min, disc_max FROM agg
    UNION ALL
    SELECT 'l_tax', n_rows, tax_nulls, tax_dist, tax_min, tax_max FROM agg
    """,
    "Single-scan column profiling (the data-catalog primitive): "
    "row count, null count, exact distinct count, min/max for every "
    "numeric lineitem column in ONE aggregate (Catalyst Expand "
    "handles the multi-distinct), unpivoted to one row per column "
    "via stack(). At 100 TB swap the exact distincts for "
    "approx_count_distinct — same plan minus the Expand multiplier",
    ("agg", "profile", "quality"),
)
def profile_numeric_lineitem(spark, sf_dir):
    # NOT spread (r9 interleaved A/B: 1.93 s spread vs 1.49 s without
    # — the multi-distinct Expand re-partials AFTER its own keyed
    # exchange, so a round-robin pre-exchange only added a shuffle)
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "l_quantity": "qty",
        "l_extendedprice": "price",
        "l_discount": "disc",
        "l_tax": "tax",
    }
    aggs = [F.count("*").alias("n_rows")]
    for col, p in cols.items():
        aggs += [
            (F.count("*") - F.count(col)).alias(f"{p}_nulls"),
            F.countDistinct(col).alias(f"{p}_dist"),
            F.min(col).alias(f"{p}_min"),
            F.max(col).alias(f"{p}_max"),
        ]
    agg = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {p}_nulls, {p}_dist, {p}_min, {p}_max"
        for col, p in cols.items()
    )
    return agg.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value",
    )


@_register(
    "psi_price_drift_bins",
    """
    WITH binned AS (
      SELECT least(greatest(CAST(floor((l_extendedprice - 900.0) / 10410.0)
                                 AS INTEGER), 0), 9) AS bin,
             CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                  THEN 'ref' ELSE 'cur' END AS cohort
      FROM lineitem
    ),
    cnt AS (
      SELECT bin,
             CAST(count_if(cohort = 'ref') AS BIGINT) AS ref_cnt,
             CAST(count_if(cohort = 'cur') AS BIGINT) AS cur_cnt
      FROM binned GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ref_cnt) AS BIGINT) AS ref_tot,
             CAST(sum(cur_cnt) AS BIGINT) AS cur_tot FROM cnt
    )
    SELECT bin, ref_cnt, cur_cnt,
           floor((ref_cnt + 1) / (ref_tot + 10) * 1000000 + 0.5)
             / 1000000.0 AS ref_frac,
           floor((cur_cnt + 1) / (cur_tot + 10) * 1000000 + 0.5)
             / 1000000.0 AS cur_frac,
           floor(((ref_cnt + 1) / (ref_tot + 10)
                  - (cur_cnt + 1) / (cur_tot + 10))
                 * ln(((ref_cnt + 1) / (ref_tot + 10))
                      / ((cur_cnt + 1) / (cur_tot + 10)))
                 * 1000000 + 0.5) / 1000000.0 AS psi_contrib
    FROM cnt CROSS JOIN tot
    """,
    "Population-stability-index drift report between a reference "
    "cohort (shipped pre-1998) and the current cohort over 10 fixed "
    "price bins, Laplace-smoothed — the distribution-drift monitor "
    "for feature pipelines. Emits PER-BIN contributions (sum them "
    "for the scalar PSI) so every value derives from integer counts "
    "through one deterministic float expression; one scan, one "
    "10-group aggregate, a broadcast scalar total",
    ("agg", "quality", "drift", "lineitem"),
)
def psi_price_drift_bins(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - 900.0) / 10410.0).cast("int"),
            F.lit(0),
        ),
        F.lit(9),
    )
    is_ref = F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    cnt = (
        li.select(bin_col.alias("bin"), is_ref.alias("is_ref"))
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("ref_cnt"),
            F.sum((~F.col("is_ref")).cast("long")).alias("cur_cnt"),
        )
    )
    tot = cnt.agg(
        F.sum("ref_cnt").alias("ref_tot"), F.sum("cur_cnt").alias("cur_tot")
    )
    p = (F.col("ref_cnt") + 1) / (F.col("ref_tot") + 10)
    q = (F.col("cur_cnt") + 1) / (F.col("cur_tot") + 10)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    return cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        r6(p).alias("ref_frac"),
        r6(q).alias("cur_frac"),
        r6((p - q) * F.log(p / q)).alias("psi_contrib"),
    )


@_register(
    "benford_first_digit_orders",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders
    ),
    cnt AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt)
    SELECT digit, n,
           floor(n / t * 1000000 + 0.5) / 1000000.0 AS observed_frac,
           floor(log10(1 + 1.0 / digit) * 1000000 + 0.5) / 1000000.0
             AS benford_frac,
           floor((n / t - log10(1 + 1.0 / digit)) * 1000000 + 0.5)
             / 1000000.0 AS deviation
    FROM cnt CROSS JOIN tot
    """,
    "Benford's-law first-digit screening on order totals — the "
    "classic anomaly/fraud smell test for monetary columns: observed "
    "first-significant-digit distribution vs log10(1+1/d), per-digit "
    "deviations (the synthetic generator's uniform pricing shows up "
    "immediately as a 1-4 digit surplus). One scan, 9-group agg, "
    "broadcast scalar total",
    ("agg", "quality", "orders"),
)
def benford_first_digit_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    cnt = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("t"))
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    obs = F.col("n") / F.col("t")
    ben = F.log10(1 + 1.0 / F.col("digit"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        r6(obs).alias("observed_frac"),
        r6(ben).alias("benford_frac"),
        r6(obs - ben).alias("deviation"),
    )


@_register(
    "skew_diagnostics_lineitem",
    """
    WITH per_key AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           CAST(min(cnt) AS BIGINT) AS min_cnt,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           floor(max(cnt) * 10000.0 / sum(cnt)) / 10000.0
             AS max_key_share,
           CAST(ceil(max(cnt) * count(*) * 1.0 / sum(cnt)) AS BIGINT)
             AS recommended_salt
    FROM per_key
    """,
    "Shuffle-skew diagnostics for a join/agg key — the pre-flight "
    "check before the salted-join / AQE-skew levers in "
    "pkg/operators/scale.py: per-key counts in one aggregate, then "
    "hottest-key share and the salt factor (max/avg ratio, ceil) "
    "that would level it. Integer-exact except the floor-stabilized "
    "share",
    ("scale", "skew", "diagnostics", "lineitem"),
)
def skew_diagnostics_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count("*").alias("cnt"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.sum("cnt").alias("n_rows"),
        (
            F.floor(F.max("cnt") * 10000.0 / F.sum("cnt")) / 10000.0
        ).alias("max_key_share"),
        F.ceil(F.max("cnt") * F.count("*") * 1.0 / F.sum("cnt"))
        .cast("long")
        .alias("recommended_salt"),
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


# ---------------------------------------------------------------------------
# Write-time contract enforcement: quarantined rows + fired rules
# ---------------------------------------------------------------------------

@_register(
    "contract_quarantine_events",
    """
    SELECT event_id,
           array_to_string(
             list_filter(
               [CASE WHEN value IS NULL OR value < 1 THEN 'value_min' END,
                CASE WHEN event_type = 'error' THEN 'no_errors' END],
               x -> x IS NOT NULL),
             '|') AS violated
    FROM events
    WHERE (value IS NULL OR value < 1) OR event_type = 'error'
    """,
    "Write-time constraint enforcement (Delta CHECK / Hudi pre-commit "
    "validator analogue): enforce() splits the batch into clean vs "
    "quarantine with ONE shared scan-local projection of fired-rule "
    "names — this query returns the dead-letter side (row id + which "
    "rules fired, pipe-joined in declaration order). Zero shuffle; "
    "quarantine volume scales with the violation rate, not the table.",
    ("quality", "contract", "events"),
)
def contract_quarantine_events(spark, sf_dir):
    from ....operators.quality import enforce

    e = _t(spark, sf_dir, "events")
    _clean, quarantine = enforce(
        e,
        {
            "value_min": F.col("value").isNull() | (F.col("value") < 1),
            "no_errors": F.col("event_type") == "error",
        },
    )
    return quarantine.select(
        "event_id", F.array_join("_violated", "|").alias("violated")
    )


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
# Functional-dependency audit (approximate FD discovery over candidates)
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("part", "p_brand", "p_type"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("events", "user_id", "event_type"),
)


def _fd_one_sql(table, lhs, rhs):
    return f"""
    SELECT '{table}: {lhs} -> {rhs}' AS fd,
           CAST(sum(t) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS lhs_groups,
           CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(sum(t) - sum(maxc) AS BIGINT) AS g3_remove_rows,
           CAST((sum(t) - sum(maxc)) * 1000000 // sum(t) AS BIGINT)
             AS g3_error_ppm,
           sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (
      SELECT lhs, count(*) AS d, max(c) AS maxc, sum(c) AS t
      FROM (
        SELECT {lhs} AS lhs, {rhs} AS rhs, count(*) AS c
        FROM {table} GROUP BY 1, 2
      ) GROUP BY 1
    )
    """


@_register(
    "functional_dependency_audit",
    "\nUNION ALL\n".join(_fd_one_sql(*c) for c in _FD_CANDIDATES),
    "Approximate functional-dependency profiler over a fixed "
    "candidate set (6 LHS->RHS pairs across 5 tables): per "
    "candidate, LHS-group count, groups violating the dependency, "
    "and the g3 repair metric (minimum rows to delete so the FD "
    "holds = rows minus the per-LHS majority class) in exact "
    "integers with a ppm error rate. Two map-side-combinable "
    "aggregations per candidate, shuffle keyed on the LHS — the "
    "schema-discovery companion to `referential_integrity_report` "
    "(which audits FK edges; this audits column determinism).",
    ("quality", "profiling", "lineitem"),
)
def functional_dependency_audit(spark, sf_dir):
    # NOT spread (r9 A/B): adding a round-robin exchange per fact
    # branch doubled the wall time (1.8 -> 3.5 s re-timed solo) — six
    # unioned branches x 32-partition exchanges is pure scheduling
    # overhead against 2-column partial aggregates this cheap.
    out = None
    for table, lhs, rhs in _FD_CANDIDATES:
        src = _t(spark, sf_dir, table).select(
            F.col(lhs).alias("lhs"), F.col(rhs).alias("rhs")
        )
        pairs = src.groupBy("lhs", "rhs").agg(F.count("*").alias("c"))
        grp = pairs.groupBy("lhs").agg(
            F.count("*").alias("d"),
            F.max("c").alias("maxc"),
            F.sum("c").alias("t"),
        )
        viol = F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
        one = grp.agg(
            F.sum("t").alias("n_rows"),
            F.count("*").alias("lhs_groups"),
            viol.alias("violating_groups"),
            (F.sum("t") - F.sum("maxc")).alias("g3_remove_rows"),
        ).select(
            F.lit(f"{table}: {lhs} -> {rhs}").alias("fd"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("lhs_groups").cast("long").alias("lhs_groups"),
            F.col("violating_groups").cast("long").alias("violating_groups"),
            F.col("g3_remove_rows").cast("long").alias("g3_remove_rows"),
            F.expr("g3_remove_rows * 1000000 div n_rows")
            .cast("long")
            .alias("g3_error_ppm"),
            (F.col("violating_groups") == 0).alias("holds"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# k-anonymity suppression report over the (nation, segment) quasi-identifier
# ---------------------------------------------------------------------------

_KANON_K = 5


@_register(
    "k_anonymity_report",
    f"""
    WITH cells AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_cells FROM cells)
    SELECT cells.nation, cells.segment,
           CASE WHEN cells.n >= {_KANON_K} THEN cells.n
                ELSE CAST(NULL AS BIGINT) END AS released_count,
           cells.n < {_KANON_K} AS suppressed,
           tot.n_cells,
           CAST((SELECT coalesce(sum(n), 0) FROM cells c2
                 WHERE c2.n < {_KANON_K}) AS BIGINT)
             AS suppressed_individuals,
           floor((SELECT coalesce(sum(n), 0) FROM cells c2
                  WHERE c2.n < {_KANON_K})
                 / CAST(tot.total AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS suppressed_share
    FROM cells CROSS JOIN tot
    """,
    f"k-anonymity release gate (k={_KANON_K}) over the (nation, "
    "market-segment) quasi-identifier: every cell below k is "
    "suppressed (NULL) rather than released, and the report carries "
    "the global suppression audit — individuals hidden and their "
    "corpus share — the aggregate-release companion to "
    "`pii_redaction_customers` (field-level masking) and "
    "`gdpr_cascade_counts` (erasure planning). One fact-sized "
    "aggregate to a 125-cell grid; the audit is grid arithmetic.",
    ("privacy", "quality", "customer"),
)
def k_anonymity_report(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0)).alias(
            "supp"
        ),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "nation",
        "segment",
        F.when(F.col("n") >= _KANON_K, F.col("n"))
        .cast("long")
        .alias("released_count"),
        (F.col("n") < _KANON_K).alias("suppressed"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("supp").cast("long").alias("suppressed_individuals"),
        _r6(F.col("supp") / F.col("total").cast("double")).alias(
            "suppressed_share"
        ),
    )


# ---------------------------------------------------------------------------
# Histogram selectivity audit: equi-width estimates vs actual cardinality
# ---------------------------------------------------------------------------

_HIST_BINS = 32
_HIST_PREDS = [
    # (pred_id, lo_dollars, hi_dollars) ranges over o_totalprice
    (0, 0, 50000),
    (1, 50000, 100000),
    (2, 100000, 150000),
    (3, 150000, 200000),
    (4, 0, 25000),
    (5, 225000, 600000),
    (6, 90000, 110000),
    (7, 140000, 360000),
]


def _hist_pred_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {pid} AS pred_id, {lo}.0 AS plo, {hi}.0 AS phi"
        for pid, lo, hi in _HIST_PREDS
    )


@_register(
    "histogram_selectivity_audit",
    f"""
    WITH stats AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
             CAST(count(*) AS BIGINT) AS total
      FROM orders
    ),
    binned AS (
      SELECT least(CAST(floor((o_totalprice - s.mn) / (s.mx - s.mn)
                               * {_HIST_BINS}) AS INTEGER),
                   {_HIST_BINS - 1}) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM orders CROSS JOIN stats s
      GROUP BY 1
    ),
    preds AS ({_hist_pred_sql()}),
    terms AS (
      SELECT p.pred_id, b.bin,
             b.n * greatest(0.0::DOUBLE, least(
               (s.mn + (b.bin + 1) * (s.mx - s.mn) / {_HIST_BINS}), p.phi)
               - greatest(
               (s.mn + b.bin * (s.mx - s.mn) / {_HIST_BINS}), p.plo))
             / ((s.mx - s.mn) / {_HIST_BINS}) AS term
      FROM preds p
      CROSS JOIN stats s
      JOIN binned b ON TRUE
    ),
    est AS (
      SELECT pred_id,
             floor(list_reduce(list_prepend(0.0::DOUBLE,
                     list(term ORDER BY bin)), (a, b) -> a + b)
                   + 0.5) AS est_rows
      FROM terms GROUP BY 1
    ),
    actual AS (
      SELECT p.pred_id, CAST(count(o.o_totalprice) AS BIGINT) AS actual_rows
      FROM preds p LEFT JOIN orders o
        ON o.o_totalprice >= p.plo AND o.o_totalprice < p.phi
      GROUP BY 1
    )
    SELECT e.pred_id,
           CAST(e.est_rows AS BIGINT) AS est_rows,
           a.actual_rows,
           CASE WHEN a.actual_rows > 0 THEN
             floor(CAST(e.est_rows AS DOUBLE) / a.actual_rows
                   * 1000000 + 0.5) / 1000000.0
           END AS q_error
    FROM est e JOIN actual a ON a.pred_id = e.pred_id
    """,
    f"Histogram selectivity audit — the CBO calibration loop: a "
    f"{_HIST_BINS}-bin equi-width histogram over order totals "
    "estimates the cardinality of 8 literal range predicates by "
    "fractional bin overlap (uniform-within-bin assumption, the "
    "textbook System-R estimator), and each estimate is scored "
    "against the true count as an estimate/actual ratio. The "
    "row-count companion to `join_cardinality_estimates` (join "
    "output sizes) and `equi_depth_histogram_events` (the better "
    "binning this audit motivates: equi-width under-performs "
    "exactly where the data skews). One fact aggregate builds the "
    "histogram; estimation is 32x8 literal arithmetic. NOTE the "
    "overlap fold sums bin terms in bin order in both engines.",
    ("cbo", "histogram", "estimation", "orders"),
)
def histogram_selectivity_audit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count("*").alias("total"),
    )
    binned = (
        o.crossJoin(F.broadcast(stats))
        .groupBy(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * _HIST_BINS
                ).cast("int"),
                F.lit(_HIST_BINS - 1),
            ).alias("bin")
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    preds = spark.createDataFrame(
        [(pid, float(lo), float(hi)) for pid, lo, hi in _HIST_PREDS],
        "pred_id int, plo double, phi double",
    )
    width = (F.col("mx") - F.col("mn")) / _HIST_BINS
    bin_lo = F.col("mn") + F.col("bin") * width
    bin_hi = F.col("mn") + (F.col("bin") + 1) * width
    overlap = F.greatest(
        F.lit(0.0),
        F.least(bin_hi, F.col("phi")) - F.greatest(bin_lo, F.col("plo")),
    )
    est = (
        F.broadcast(preds)
        .crossJoin(F.broadcast(stats))
        .crossJoin(binned)
        .select("pred_id", "bin", (F.col("n") * overlap / width).alias("term"))
        .groupBy("pred_id")
        .agg(
            F.floor(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("bin", "term"))),
                    F.lit(0.0),
                    lambda a, x: a + x["term"],
                )
                + F.lit(0.5)
            ).alias("est_rows")
        )
    )
    actual = (
        F.broadcast(preds)
        .join(
            o,
            (F.col("o_totalprice") >= F.col("plo"))
            & (F.col("o_totalprice") < F.col("phi")),
            "left",
        )
        .groupBy("pred_id")
        .agg(F.count("o_totalprice").alias("actual_rows"))
    )
    return est.join(actual, "pred_id").select(
        "pred_id",
        F.col("est_rows").cast("long").alias("est_rows"),
        F.col("actual_rows").cast("long").alias("actual_rows"),
        F.when(
            F.col("actual_rows") > 0,
            _r6(F.col("est_rows").cast("double") / F.col("actual_rows")),
        ).alias("q_error"),
    )


# ---------------------------------------------------------------------------
# Calibrated-noise (Laplace-mechanism) release audit
# ---------------------------------------------------------------------------

_DP_EPS = 0.5
_DP_B = 1.0 / _DP_EPS


@_register(
    "calibrated_noise_release_audit",
    f"""
    WITH cells AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS true_count
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    noised AS (
      SELECT nation, segment, true_count,
             CAST(CAST(('0x' || substr(md5('dp:' || nation || '|'
                        || segment), 1, 15)) AS UBIGINT) AS DOUBLE)
               / {float(2 ** 60)!r} AS u
      FROM cells
    ),
    released AS (
      SELECT nation, segment, true_count,
             CASE WHEN u >= 0.5
                  THEN -{_DP_B!r} * ln(1.0 - 2.0 * (u - 0.5))
                  ELSE {_DP_B!r} * ln(1.0 - 2.0 * (0.5 - u)) END AS noise
      FROM noised
    )
    SELECT nation, segment, true_count,
           greatest(CAST(floor(true_count + noise + 0.5) AS BIGINT), 0)
             AS released_count,
           abs(greatest(CAST(floor(true_count + noise + 0.5) AS BIGINT), 0)
               - true_count) AS abs_error
    FROM released
    """,
    "Laplace-mechanism release audit (epsilon=0.5, scale b=2): "
    "every (nation, segment) count is released with inverse-CDF "
    "Laplace noise driven by a SEEDED md5 uniform — deterministic "
    "on purpose, so the utility cost (per-cell absolute error of "
    "the integer-rounded, non-negative release) is reproducible "
    "and oracle-checkable; a production deployment swaps the seed "
    "for a real RNG and keeps every other line. The noise-"
    "calibration companion to `k_anonymity_report` (suppression: "
    "lose whole cells; noise: keep all cells, pay per-cell error) "
    "— the two classic disclosure-control tradeoffs side by side. "
    "One fact aggregate; noise is scan-local arithmetic.",
    ("privacy", "noise", "customer"),
)
def calibrated_noise_release_audit(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("true_count"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"),
                        F.col("nation"),
                        F.lit("|"),
                        F.col("segment"),
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2 ** 60))
    )
    noise = F.when(
        u >= 0.5, F.lit(-_DP_B) * F.log(1.0 - 2.0 * (u - F.lit(0.5)))
    ).otherwise(F.lit(_DP_B) * F.log(1.0 - 2.0 * (F.lit(0.5) - u)))
    released = F.greatest(
        F.floor(F.col("true_count") + noise + F.lit(0.5)).cast("long"),
        F.lit(0).cast("long"),
    )
    return cells.select(
        "nation",
        "segment",
        F.col("true_count").cast("long").alias("true_count"),
        released.alias("released_count"),
        F.abs(released - F.col("true_count")).alias("abs_error"),
    )


# ---------------------------------------------------------------------------
# CHECK-constraint audit across the lake tables
# ---------------------------------------------------------------------------

# (rule_id, table, human rule, SQL predicate counting VIOLATIONS)
_CHECKS = (
    ("orders_price_positive", "orders", "o_totalprice > 0",
     "o_totalprice <= 0"),
    ("orders_status_enum", "orders", "o_orderstatus in (O,F,P)",
     "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("lineitem_qty_range", "lineitem", "1 <= l_quantity <= 50",
     "l_quantity < 1 OR l_quantity > 50"),
    ("lineitem_discount_range", "lineitem", "0 <= l_discount <= 0.1",
     "l_discount < 0 OR l_discount > 0.1"),
    ("lineitem_tax_range", "lineitem", "0 <= l_tax <= 0.08",
     "l_tax < 0 OR l_tax > 0.08"),
    ("customer_acctbal_domain", "customer", "c_acctbal >= -1000",
     "c_acctbal < -1000"),
    ("events_value_nonneg", "events", "value >= 0", "value < 0"),
    ("events_type_enum", "events",
     "event_type in (view,click,purchase,signup,error)",
     "event_type NOT IN ('view','click','purchase','signup','error')"),
    ("part_size_positive", "part", "p_size > 0", "p_size <= 0"),
)


def _check_one_sql(rule_id, table, rule, viol):
    return f"""
    SELECT '{rule_id}' AS rule_id, '{table}' AS table_name,
           '{rule}' AS rule,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {viol} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(sum(CASE WHEN {viol} THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS violation_ppm
    FROM {table}"""


@_register(
    "check_constraint_audit",
    "\nUNION ALL\n".join(_check_one_sql(*c) for c in _CHECKS),
    "CHECK-constraint audit — the dbt-tests layer every warehouse "
    "runs on schedule: 9 domain rules (value ranges, enum "
    "memberships, sign constraints) across 5 tables, each "
    "reporting exact violation counts and ppm in ONE aggregate "
    "scan per table. Zero violations is the expected steady state "
    "— the value is the regression alarm when an upstream change "
    "ships garbage; the row-level companion to "
    "`referential_integrity_report` (FK edges), "
    "`functional_dependency_audit` (column determinism) and "
    "`contract_quarantine_events` (streaming-side enforcement). "
    "Map-side-combinable conditionals; rules compile into the "
    "scan, no joins.",
    ("quality", "constraints", "lineitem"),
)
def check_constraint_audit(spark, sf_dir):
    out = None
    for rule_id, table, rule, viol in _CHECKS:
        t = _t(spark, sf_dir, table)
        one = t.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.expr(viol), 1).otherwise(0)).alias(
                "n_violations"
            ),
        ).select(
            F.lit(rule_id).alias("rule_id"),
            F.lit(table).alias("table_name"),
            F.lit(rule).alias("rule"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_violations").cast("long").alias("n_violations"),
            F.expr("n_violations * 1000000 div n_rows")
            .cast("long")
            .alias("violation_ppm"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Source freshness audit (dbt source freshness analogue)
# ---------------------------------------------------------------------------

_FRESH_SOURCES = (
    ("events", "ts"),
    ("orders", "o_orderdate"),
    ("lineitem", "l_shipdate"),
)


def _fresh_one_sql(table, ts_col):
    return f"""
    SELECT '{table}' AS source_table,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(CAST({ts_col} AS TIMESTAMP)) AS TIMESTAMP)
             AS oldest_ts,
           CAST(max(CAST({ts_col} AS TIMESTAMP)) AS TIMESTAMP)
             AS newest_ts,
           CAST(sum(CASE WHEN CAST({ts_col} AS TIMESTAMP)
                    >= (SELECT max(CAST({ts_col} AS TIMESTAMP))
                        FROM {table}) - INTERVAL 7 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS rows_last_7d
    FROM {table}"""


@_register(
    "source_freshness_audit",
    "\nUNION ALL\n".join(_fresh_one_sql(*s) for s in _FRESH_SOURCES),
    "Source freshness audit (the dbt `source freshness` analogue, "
    "anchored to each table's own max event time so the check is "
    "reproducible on a frozen fixture): per fact source, row "
    "count, oldest/newest timestamps, and rows landed within the "
    "trailing 7 days of its watermark — a collapsed trailing "
    "window is the first symptom of a stalled ingest pipeline, "
    "caught by the monitor rather than the consumer. One "
    "aggregate scan per source; in production the anchor swaps to "
    "wall-clock now() and everything else is unchanged.",
    ("quality", "freshness", "ops", "events"),
)
def source_freshness_audit(spark, sf_dir):
    out = None
    for table, ts_col in _FRESH_SOURCES:
        t = _t(spark, sf_dir, table)
        ts = F.col(ts_col).cast("timestamp")
        mx = t.agg(F.max(ts).alias("mx"))
        one = (
            t.crossJoin(F.broadcast(mx))
            .agg(
                F.count("*").alias("n_rows"),
                F.min(ts).alias("oldest_ts"),
                F.max(ts).alias("newest_ts"),
                F.sum(
                    F.when(
                        ts >= F.col("mx") - F.expr("INTERVAL 7 DAY"), 1
                    ).otherwise(0)
                ).alias("rows_last_7d"),
            )
            .select(
                F.lit(table).alias("source_table"),
                F.col("n_rows").cast("long").alias("n_rows"),
                "oldest_ts",
                "newest_ts",
                F.col("rows_last_7d").cast("long").alias("rows_last_7d"),
            )
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Duplicate-payment screen: same customer, same day, same amount
# ---------------------------------------------------------------------------


@_register(
    "duplicate_payment_screen",
    """
    WITH keyed AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 100) AS BIGINT) // 1000000 AS band,
             o_orderkey
      FROM orders
    ),
    groups AS (
      SELECT o_custkey, band,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(min(day) AS DATE) AS first_day,
             CAST(max(day) AS DATE) AS last_day,
             CAST(min(o_orderkey) AS BIGINT) AS first_orderkey,
             CAST(max(cents) AS BIGINT) AS max_cents
      FROM keyed GROUP BY 1, 2
      HAVING count(*) >= 2
         AND date_diff('day', min(day), max(day)) <= 30
    )
    SELECT o_custkey, band, n_orders, first_day, last_day,
           first_orderkey,
           CAST((n_orders - 1) * max_cents AS BIGINT) AS exposure_cents
    FROM groups
    """,
    "Duplicate-payment screen — the accounts-payable forensic that "
    "catches double-submitted invoices and retry storms: orders by "
    "the same customer in the same $10,000 amount band within 30 "
    "days of each other, with the at-risk exposure = "
    "(duplicates-1) x max amount per group. The cheap banded first "
    "pass of a payment-integrity pipeline — "
    "`part_name_edit_distance_pairs`-style fuzzy tiers only run "
    "on what this free screen can't catch. One shuffle on the "
    "(customer, band) key; output is violation-sized.",
    ("quality", "forensics", "orders"),
)
def duplicate_payment_screen(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    keyed = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        cents.alias("cents"),
        F.expr(
            "CAST(floor(o_totalprice * 100) AS BIGINT) div 1000000"
        ).alias("band"),
        "o_orderkey",
    )
    groups = (
        keyed.groupBy("o_custkey", "band")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.min("o_orderkey").alias("first_orderkey"),
            F.max("cents").alias("max_cents"),
        )
        .filter(
            (F.col("n_orders") >= 2)
            & (F.datediff(F.col("last_day"), F.col("first_day")) <= 30)
        )
    )
    return groups.select(
        "o_custkey",
        "band",
        F.col("n_orders").cast("long").alias("n_orders"),
        "first_day",
        "last_day",
        F.col("first_orderkey").cast("long").alias("first_orderkey"),
        ((F.col("n_orders") - 1) * F.col("max_cents"))
        .cast("long")
        .alias("exposure_cents"),
    )


# ---------------------------------------------------------------------------
# Day-of-month uniformity audit (batching / backdating detector)
# ---------------------------------------------------------------------------


@_register(
    "day_of_month_uniformity",
    """
    WITH dom AS (
      SELECT CAST(day(CAST(o_orderdate AS DATE)) AS INTEGER) AS dom,
             CAST(count(*) AS BIGINT) AS n
      FROM orders
      WHERE day(CAST(o_orderdate AS DATE)) <= 28
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM dom)
    SELECT d.dom, d.n,
           floor(d.n / CAST(t.total AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share,
           floor((d.n - t.total / 28.0) * (d.n - t.total / 28.0)
                 / (t.total / 28.0) * 10000 + 0.5) / 10000.0
             AS chi2_term
    FROM dom d CROSS JOIN tot t
    """,
    "Day-of-month uniformity audit over order dates (days 1-28 so "
    "every day has equal calendar exposure): per-day counts, "
    "shares, and chi-square terms against the uniform expectation "
    "— spikes at day 1 or month-end are the signature of BATCHED "
    "or backdated bookings (the temporal cousin of "
    "`benford_first_digit_orders`' amount forensics and "
    "`cent_digit_uniformity_orders`' rounding detector). Exact "
    "integer counts, pinned expectation arithmetic, 28-row "
    "output.",
    ("quality", "forensics", "orders"),
)
def day_of_month_uniformity(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dom = (
        o.select(
            F.dayofmonth(F.col("o_orderdate").cast("date")).alias("dom")
        )
        .filter(F.col("dom") <= 28)
        .groupBy("dom")
        .agg(F.count("*").alias("n"))
    )
    tot = dom.agg(F.sum("n").alias("total"))
    exp = F.col("total") / 28.0
    return dom.crossJoin(F.broadcast(tot)).select(
        F.col("dom").cast("int").alias("dom"),
        F.col("n").cast("long").alias("n"),
        (
            F.floor(
                F.col("n") / F.col("total").cast("double") * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("share"),
        (
            F.floor(
                (F.col("n") - exp) * (F.col("n") - exp) / exp * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("chi2_term"),
    )
