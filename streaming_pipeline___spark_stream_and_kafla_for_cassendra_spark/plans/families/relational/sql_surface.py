"""SQL-surface censuses: scalar, array, map, JSON, VARIANT and XML
functions, lateral joins, recursive CTEs, pipe syntax and grouping
sets.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import tokens
from ...core import _r6, _register, _t


# ---------------------------------------------------------------------------
# Events: scalar-function census, JSON, windowed aggs (SURVEY §2.5/2.6/2.10)
# ---------------------------------------------------------------------------

@_register(
    "scalar_function_census",
    """
    SELECT event_id,
           upper(event_type)                                   AS etype_upper,
           CAST(hour(ts) AS INTEGER)                           AS ts_hour,
           CAST(ts AS DATE)                                    AS event_date,
           hour(ts) BETWEEN 9 AND 17                           AS is_business_hours,
           CASE WHEN value < 10 THEN 'small'
                WHEN value <= 100 THEN 'medium'
                ELSE 'large' END                               AS value_bucket,
           CAST(json_extract_string(props, '$.k') AS INTEGER)  AS prop_k,
           coalesce(nullif(event_type, 'error'), 'unknown')    AS safe_type,
           event_type LIKE '%ick%'                             AS contains_ick,
           concat_ws('-', CAST(event_id AS VARCHAR), event_type) AS event_tag
    FROM events
    """,
    "Scalar-function census F1-F13: cast/when/isin/contains/lit/hour/"
    "to_date/coalesce/json-extract/concat (SURVEY §2.5)",
    ("functions", "events"),
)
def scalar_function_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.upper("event_type").alias("etype_upper"),
        F.hour("ts").alias("ts_hour"),
        F.to_date("ts").alias("event_date"),
        ((F.hour("ts") >= 9) & (F.hour("ts") <= 17)).alias("is_business_hours"),
        F.when(F.col("value") < 10, "small")
        .when(F.col("value") <= 100, "medium")
        .otherwise("large")
        .alias("value_bucket"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.coalesce(
            F.nullif(F.col("event_type"), F.lit("error")), F.lit("unknown")
        ).alias("safe_type"),
        F.col("event_type").contains("ick").alias("contains_ick"),
        F.concat_ws(
            "-", F.col("event_id").cast("string"), F.col("event_type")
        ).alias("event_tag"),
    )


@_register(
    "sql_surface_nation_rank",
    """
    WITH rev AS (
      SELECT n.n_name,
             CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
      FROM nation n
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY n.n_name, 2
    )
    SELECT n_name, order_year, revenue,
           CAST(rank() OVER (PARTITION BY order_year
                             ORDER BY revenue DESC, n_name) AS INTEGER) AS rev_rank
    FROM rev
    WHERE order_year <= 2000
    """,
    "S6: the batch SQL analytics surface — spark.sql over registered "
    "views (CTE + multi-join + window rank), the engine's Hive-SQL "
    "equivalent",
    ("sql", "join", "window"),
)
def sql_surface_nation_rank(spark, sf_dir):
    from ....sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
          SELECT n.n_name,
                 CAST(year(o.o_orderdate) AS INT) AS order_year,
                 round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
          FROM nation n
          JOIN customer c ON c.c_nationkey = n.n_nationkey
          JOIN orders o   ON o.o_custkey = c.c_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY n.n_name, 2
        )
        SELECT n_name, order_year, revenue,
               CAST(rank() OVER (PARTITION BY order_year
                                 ORDER BY revenue DESC, n_name) AS INT) AS rev_rank
        FROM rev
        WHERE order_year <= 2000
        """
    )


@_register(
    "agg_census_argmax",
    """
    SELECT event_type,
           arg_max(event_id, ts) AS last_event_id,
           arg_min(event_id, ts) AS first_event_id,
           bool_and(value > 0.0)  AS all_positive,
           bool_or(value > 300.0) AS any_extreme,
           CAST(count_if(value > 100.0) AS BIGINT) AS n_over_100
    FROM events
    GROUP BY event_type
    """,
    "Aggregate-function census beyond SURVEY §2.6: max_by/min_by "
    "(argmax on the unique ts key — deterministic), bool_and/bool_or, "
    "count_if — all single-shuffle hash aggregates with map-side "
    "partials",
    ("agg", "census", "events"),
)
def agg_census_argmax(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.min_by("event_id", "ts").alias("first_event_id"),
        F.bool_and(F.col("value") > 0.0).alias("all_positive"),
        F.bool_or(F.col("value") > 300.0).alias("any_extreme"),
        F.count_if(F.col("value") > 100.0).alias("n_over_100"),
    )


@_register(
    "lineitem_regression_by_flag",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(covar_samp(l_quantity, l_extendedprice), 4)     AS qty_price_covar,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "ANSI linear-regression aggregates (regr_slope/intercept/count, "
    "covar_samp) per return flag — one pass, partial-aggregable "
    "moment sketches",
    ("agg", "stats", "census"),
)
def lineitem_regression_by_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.round(
            F.covar_samp("l_quantity", "l_extendedprice"), 4
        ).alias("qty_price_covar"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
    )


@_register(
    "set_ops_all_variants",
    """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union_all' AS op, count(*) AS n FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all', count(*) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all', count(*) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    """,
    "Bag-semantics set operations (UNION/INTERSECT/EXCEPT ALL — "
    "multiplicity-preserving, unlike the distinct variants already "
    "covered): INTERSECT ALL keeps min(multiplicity), EXCEPT ALL "
    "subtracts it",
    ("setops", "census", "tpch"),
)
def set_ops_all_variants(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    def count_of(df, name):
        return df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("op"), "n"
        )
    return (
        count_of(a.unionAll(b), "union_all")
        .unionAll(count_of(a.intersectAll(b), "intersect_all"))
        .unionAll(count_of(a.exceptAll(b), "except_all"))
    )


@_register(
    "null_safe_join_props",
    """
    WITH keyed AS (
      SELECT event_id,
             nullif(CAST(json_extract_string(props, '$.k') AS INTEGER) % 7,
                    3) AS r
      FROM events WHERE event_id < 150
    )
    SELECT e1.event_id AS id_a, e2.event_id AS id_b
    FROM keyed e1 JOIN keyed e2
      ON e1.r IS NOT DISTINCT FROM e2.r AND e1.event_id < e2.event_id
    """,
    "Null-safe equality join (Spark <=> ≡ ANSI IS NOT DISTINCT FROM): "
    "rows with NULL join keys match EACH OTHER instead of vanishing — "
    "the semantics needed when joining on optional attributes "
    "(~1/7 of the derived keys are NULLed via nullif)",
    ("join", "null-safe", "census", "events"),
)
def null_safe_join_props(spark, sf_dir):
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 150)
        .select(
            "event_id",
            F.nullif(
                F.get_json_object("props", "$.k").cast("int") % 7, F.lit(3)
            ).alias("r"),
        )
    )
    e1 = e.select(F.col("event_id").alias("id_a"), F.col("r").alias("r_a"))
    e2 = e.select(F.col("event_id").alias("id_b"), F.col("r").alias("r_b"))
    return (
        e1.join(
            e2,
            e1["r_a"].eqNullSafe(e2["r_b"])
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )


@_register(
    "part_string_census_extended",
    """
    SELECT p_partkey,
           translate(p_name, 'aeiou', '_____') AS devoweled,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           rpad(p_brand, 12, '.') AS padded_brand,
           reverse(p_type) AS type_reversed,
           repeat(left(p_name, 2), 2) AS doubled_prefix
    FROM part WHERE p_partkey < 120
    """,
    "Extended string-function census: translate, lpad/rpad, reverse, "
    "repeat, left — completing the string surface beyond the core "
    "upper/trim/concat/substring census",
    ("string", "census"),
)
def part_string_census_extended(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 120)
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "_____").alias("devoweled"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.rpad("p_brand", 12, ".").alias("padded_brand"),
        F.reverse("p_type").alias("type_reversed"),
        F.repeat(F.substring("p_name", 1, 2), 2).alias("doubled_prefix"),
    )


@_register(
    "documents_array_set_ops",
    """
    WITH t AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_filter(string_split(lower(text), ' '), x -> x <> '')))
               AS toks
      FROM documents WHERE doc_id < 40
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           list_sort(list_intersect(a.toks, b.toks)) AS common_tokens,
           CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER) AS n_common
    FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
    """,
    "Array set-operation census: array_distinct + array_sort + "
    "array_intersect between adjacent documents' token sets — the "
    "array algebra used by set-similarity ops, kept deterministic by "
    "sorting every array output",
    ("array", "census", "documents"),
)
def documents_array_set_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    t = d.select(
        "doc_id",
        F.array_sort(F.array_distinct(tokens("text"))).alias("toks"),
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.array_intersect("toks_a", "toks_b")
    return (
        a.join(b, F.col("id_a") + 1 == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.array_sort(inter).alias("common_tokens"),
            F.size(inter).alias("n_common"),
        )
    )


@_register(
    "user_event_timelines",
    """
    SELECT user_id,
           list(event_type ORDER BY ts, event_id) AS timeline,
           CAST(len(list(event_type ORDER BY ts, event_id)) AS INTEGER)
             AS n_events
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
    "Ordered array aggregation: per-user event-type timeline in "
    "event-time order. Spark's collect_list is arrival-ordered "
    "(nondeterministic under parallelism), so the engine sorts "
    "(ts, event_id, type) structs post-agg and projects — the "
    "deterministic ordered-array idiom; DuckDB's list(x ORDER BY y) "
    "is the oracle",
    ("agg", "array", "census", "events"),
)
def user_event_timelines(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: s["event_type"],
    )
    return e.groupBy("user_id").agg(
        ordered.alias("timeline"),
        F.size(ordered).alias("n_events"),
    )


@_register(
    "part_name_edit_distance_pairs",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND a.p_partkey < 40 AND b.p_partkey < 40
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    "Edit-distance (Levenshtein) near-match pairs on a bounded key "
    "slice — the fuzzy-string tier of dedup, complementing the "
    "token-level Jaccard/MinHash ops; at scale the candidate set "
    "comes from an LSH/blocking pass, never the raw cross join",
    ("text", "similarity", "census"),
)
def part_name_edit_distance_pairs(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 40)
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a")
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
    )
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("edit_dist") <= 3)
        .select("key_a", "key_b", "edit_dist")
    )


@_register(
    "lateral_top_orders_per_customer",
    """
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_custkey < 100
    """,
    "LATERAL correlated subquery (top-2 orders per customer with a "
    "deterministic tie-break) — Catalyst decorrelates the per-row "
    "ORDER BY LIMIT into a ranked join, no driver loop; runs "
    "verbatim on the spark.sql surface",
    ("join", "lateral", "sql-surface", "tpch"),
)
def lateral_top_orders_per_customer(spark, sf_dir):
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lat, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_custkey < 100
        """
    )


@_register(
    "window_census_user_events",
    """
    SELECT user_id, event_id,
           round(lag(value)  OVER w, 4) AS prev_value,
           round(lead(value) OVER w, 4) AS next_value,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume,
           round(first_value(value) OVER w, 4) AS first_seen_value
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
    "Analytic-window census beyond rank/row_number: lag/lead, ntile, "
    "percent_rank, cume_dist, first_value over a per-user event-time "
    "ordering ((user_id, ts) is unique, so every function is "
    "deterministic); one hash exchange on the partition key serves "
    "all six functions",
    ("window", "census", "events"),
)
def window_census_user_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.round(F.first("value").over(w), 4).alias("first_seen_value"),
    )


@_register(
    "events_multi_grain_rollup",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
           CAST(date_trunc('day', ts)  AS TIMESTAMP) AS day_bucket,
           coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY GROUPING SETS (
      (date_trunc('hour', ts)),
      (date_trunc('day', ts)),
      (date_trunc('day', ts), event_type)
    )
    """,
    "Hypertable-style multi-resolution rollup: hourly, daily, and "
    "daily-by-type aggregates of one scan via GROUPING SETS — the "
    "continuous-aggregate shape, one shuffle for all three grains "
    "(SQL surface: runs as spark.sql over a registered view)",
    ("agg", "grouping-sets", "sql-surface", "events"),
)
def events_multi_grain_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_mgr")
    return spark.sql(
        """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
               CAST(date_trunc('day', ts)  AS TIMESTAMP) AS day_bucket,
               coalesce(event_type, 'ALL') AS event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events_mgr
        GROUP BY GROUPING SETS (
          (date_trunc('hour', ts)),
          (date_trunc('day', ts)),
          (date_trunc('day', ts), event_type)
        )
        """
    )


@_register(
    "higher_order_array_census",
    """
    WITH a AS (
      SELECT user_id, list_sort(list(value)) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS INTEGER) AS n_events,
           floor(list_sum(list_transform(vals, x -> x * 2)) * 10000 + 0.5)
             / 10000.0 AS doubled_sum,
           CAST(len(list_filter(vals, x -> x > 50.0)) AS INTEGER) AS n_above_50,
           len(list_filter(vals, x -> x > 95.0)) > 0 AS has_above_95,
           floor(list_sum(list_transform(range(1, len(vals) + 1),
                          i -> vals[i] * vals[len(vals) + 1 - i]))
                 * 10000 + 0.5) / 10000.0 AS dot_reversed
    FROM a
    """,
    "Higher-order array function census: transform/filter/exists/"
    "zip_with/aggregate over per-user sorted value arrays — lambdas "
    "run inside codegen (no Python), summation order pinned by the "
    "sort so double results are engine-stable",
    ("functions", "arrays", "events"),
)
def higher_order_array_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list("value")).alias("vals")
    )
    stable4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    doubled = F.aggregate(
        F.transform(F.col("vals"), lambda x: x * 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot_rev = F.aggregate(
        F.zip_with(F.col("vals"), F.reverse(F.col("vals")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return a.select(
        "user_id",
        F.size("vals").alias("n_events"),
        stable4(doubled).alias("doubled_sum"),
        F.size(F.filter(F.col("vals"), lambda x: x > 50.0)).alias("n_above_50"),
        F.exists(F.col("vals"), lambda x: x > 95.0).alias("has_above_95"),
        stable4(dot_rev).alias("dot_reversed"),
    )


@_register(
    "try_cast_census",
    """
    WITH s AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 5 AS INTEGER) AS case_id,
             CASE o_orderkey % 5
               WHEN 0 THEN CAST(o_orderkey AS VARCHAR)
               WHEN 1 THEN ' 42 '
               WHEN 2 THEN '-7'
               WHEN 3 THEN 'n/a'
               ELSE '' END AS raw,
             CASE o_orderkey % 3
               WHEN 0 THEN '2024-02-29'
               WHEN 1 THEN '2024-02-30'
               ELSE '2024-13-01' END AS raw_date
      FROM orders
    )
    SELECT case_id,
           count(*) AS n_rows,
           count(TRY_CAST(raw AS BIGINT)) AS n_int_ok,
           count(TRY_CAST(raw AS DOUBLE)) AS n_double_ok,
           count(TRY_CAST(raw_date AS DATE)) AS n_date_ok
    FROM s GROUP BY case_id
    """,
    "Safe-parsing census: try_cast of messy strings to BIGINT/DOUBLE/"
    "DATE returns NULL instead of failing the job — the ingestion "
    "posture for dirty 100 TB corpora (one bad cell must not kill a "
    "stage). Inputs synthesized deterministically per key on both "
    "engines; cases chosen where ANSI and DuckDB semantics agree",
    ("functions", "ingestion", "quality"),
)
def try_cast_census(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    raw = (
        F.when(key % 5 == 0, key.cast("string"))
        .when(key % 5 == 1, F.lit(" 42 "))
        .when(key % 5 == 2, F.lit("-7"))
        .when(key % 5 == 3, F.lit("n/a"))
        .otherwise(F.lit(""))
    )
    raw_date = (
        F.when(key % 3 == 0, F.lit("2024-02-29"))
        .when(key % 3 == 1, F.lit("2024-02-30"))
        .otherwise(F.lit("2024-13-01"))
    )
    s = o.select(
        (key % 5).cast("int").alias("case_id"),
        raw.alias("raw"),
        raw_date.alias("raw_date"),
    )
    return s.groupBy("case_id").agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("raw").try_cast("bigint")).alias("n_int_ok"),
        F.count(F.col("raw").try_cast("double")).alias("n_double_ok"),
        F.count(F.col("raw_date").try_cast("date")).alias("n_date_ok"),
    )


@_register(
    "map_functions_census",
    """
    WITH hc AS (
      SELECT event_type, CAST(hour(ts) AS INTEGER) AS h, count(*) AS c
      FROM events GROUP BY event_type, h
    )
    SELECT event_type,
           CAST(count(*) AS INTEGER) AS n_hours,
           CAST(max(CASE WHEN h = 12 THEN c END) AS BIGINT) AS midday_cnt,
           list_sort(list(h)) AS hours,
           CAST(sum(c) AS BIGINT) AS total_events
    FROM hc GROUP BY event_type
    """,
    "MapType census: map_from_entries over sorted (hour,count) "
    "entries, element_at lookup, map_keys, and a map_values fold — "
    "the oracle computes the same facts relationally, proving the map "
    "layer adds no semantic drift",
    ("functions", "maps", "events"),
)
def map_functions_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hc = (
        e.groupBy("event_type", F.hour("ts").cast("int").alias("h"))
        .agg(F.count("*").alias("c"))
    )
    m = hc.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("h", "c")))
        ).alias("m")
    )
    total = F.aggregate(
        F.map_values(F.col("m")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return m.select(
        "event_type",
        F.size("m").alias("n_hours"),
        F.element_at(F.col("m"), F.lit(12)).alias("midday_cnt"),
        F.array_sort(F.map_keys("m")).alias("hours"),
        total.alias("total_events"),
    )


@_register(
    "url_parse_census",
    """
    WITH u AS (
      SELECT doc_id, lang,
             'https://' || source || '.example.com/docs/'
             || CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&v=2' AS url
      FROM documents
    )
    SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           count(*) AS n_docs,
           count(CASE WHEN regexp_extract(url, 'lang=([a-z]+)', 1) = 'en'
                      THEN 1 END) AS n_en,
           min(regexp_extract(url, 'https://[^/]+(/[^?]*)', 1)) AS first_path
    FROM u GROUP BY host
    """,
    "URL structure extraction: parse_url(HOST/PATH/QUERY:key) over "
    "deterministically synthesized URLs vs a pure-regex oracle — the "
    "web-corpus provenance op (domain grouping, query-param filters), "
    "scan-local codegen",
    ("functions", "text", "documents"),
)
def url_parse_census(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&v=2"),
    )
    u = d.select(url.alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    q_lang = F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang"))
    return u.groupBy(host.alias("host")).agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(q_lang == "en", F.lit(1))).alias("n_en"),
        F.min(path).alias("first_path"),
    )


# ---------------------------------------------------------------------------
# Modern SQL surface census: VARIANT, XML, listagg, recursive CTE, pipe syntax
# ---------------------------------------------------------------------------

@_register(
    "variant_json_census",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(user_id) AS BIGINT) AS sum_u
    FROM events
    GROUP BY event_type
    """,
    "Semi-structured VARIANT ingestion (Spark 4): parse_json the "
    "props payload into an open-schema VARIANT and variant_get typed "
    "paths — schema-on-read without a fixed from_json StructType, the "
    "posture for heterogeneous web-corpus metadata. Oracle is DuckDB "
    "json_extract over the same strings",
    ("sql-surface", "variant", "json", "events"),
)
def variant_json_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # round-trip a second, synthesized JSON document through VARIANT so
    # both a stored payload and a constructed one exercise the codec
    synth = F.parse_json(
        F.concat(
            F.lit('{"u":'),
            F.col("user_id").cast("string"),
            F.lit(',"t":"'),
            F.col("event_type"),
            F.lit('"}'),
        )
    )
    return (
        e.select(
            F.variant_get(synth, "$.t", "string").alias("event_type"),
            F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
            F.variant_get(synth, "$.u", "long").alias("u"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum("u").alias("sum_u"),
        )
    )


@_register(
    "xml_events_census",
    """
    SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_u
    FROM events
    GROUP BY event_type
    """,
    "XML ingestion (Spark 4 from_xml): serialize each event to an XML "
    "fragment, parse it back with a declared schema, and aggregate the "
    "extracted fields — parity proven against the pre-serialization "
    "columns via the relational oracle",
    ("sql-surface", "xml", "events"),
)
def xml_events_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><u>"),
        F.col("user_id").cast("string"),
        F.lit("</u><t>"),
        F.col("event_type"),
        F.lit("</t></e>"),
    )
    parsed = F.from_xml(xml, "u BIGINT, t STRING")
    return (
        e.select(parsed.alias("p"))
        .select(F.col("p.t").alias("event_type"), F.col("p.u").alias("u"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("u").alias("sum_u"))
    )


@_register(
    "listagg_region_nations",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           count(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    "Ordered string aggregation: ANSI listagg(...) WITHIN GROUP "
    "(ORDER BY ...) (Spark 4) vs DuckDB ordered string_agg — "
    "deterministic concatenation independent of shuffle arrival order",
    ("sql-surface", "agg"),
)
def listagg_region_nations(spark, sf_dir):
    from ....sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
               count(*) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@_register(
    "recursive_weekly_orders",
    """
    WITH RECURSIVE weeks(n) AS (
      SELECT 0
      UNION ALL
      SELECT n + 1 FROM weeks WHERE n < 25
    )
    SELECT CAST(DATE '1995-01-01' + n * 7 AS DATE) AS week_start,
           count(o.o_orderkey) AS n_orders
    FROM weeks w
    LEFT JOIN orders o
      ON o.o_orderdate >= CAST(DATE '1995-01-01' + w.n * 7 AS TIMESTAMP)
     AND o.o_orderdate <  CAST(DATE '1995-01-01' + (w.n + 1) * 7 AS TIMESTAMP)
    GROUP BY 1
    """,
    "Recursive CTE (Spark 4 WITH RECURSIVE): generate a 26-week "
    "calendar ladder by recursion and left-join order counts per week "
    "— zero-order weeks preserved. The recursion runs in BOTH engines "
    "(Spark executes its own recursive union; DuckDB runs the "
    "equivalent fixpoint)",
    ("sql-surface", "recursive-cte", "join"),
)
def recursive_weekly_orders(spark, sf_dir):
    from ....sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE weeks(n) AS (
          SELECT 0
          UNION ALL
          SELECT n + 1 FROM weeks WHERE n < 25
        )
        SELECT date_add(DATE '1995-01-01', n * 7) AS week_start,
               count(o.o_orderkey) AS n_orders
        FROM weeks w
        LEFT JOIN orders o
          ON o.o_orderdate >= CAST(date_add(DATE '1995-01-01', w.n * 7) AS TIMESTAMP)
         AND o.o_orderdate <  CAST(date_add(DATE '1995-01-01', (w.n + 1) * 7) AS TIMESTAMP)
        GROUP BY 1
        """
    )


@_register(
    "pipe_syntax_priority_stats",
    """
    SELECT o_orderpriority,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_bucket,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY 1, 2
    """,
    "SQL pipe syntax (Spark 4 |> operators): WHERE → EXTEND → "
    "AGGREGATE GROUP BY expressed as a linear pipeline; compiles to "
    "the identical Catalyst plan as the nested-SELECT oracle",
    ("sql-surface", "pipe-syntax", "agg"),
)
def pipe_syntax_priority_stats(spark, sf_dir):
    from ....sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |> EXTEND CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_bucket
        |> AGGREGATE count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price
           GROUP BY o_orderpriority, size_bucket
        """
    )


@_register(
    "events_mode_disc_census",
    """
    WITH s AS (
      SELECT event_type, count(*) AS n, list(value ORDER BY value) AS vs
      FROM events GROUP BY event_type
    ),
    b AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, bucket,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, bucket ASC) AS rn
      FROM b
    )
    SELECT s.event_type,
           CAST(n AS BIGINT) AS n_events,
           m.bucket AS mode_bucket,
           vs[CAST(ceil(n * 0.5::DOUBLE) AS INT)] AS p50_disc,
           vs[CAST(ceil(n * 0.9::DOUBLE) AS INT)] AS p90_disc
    FROM s JOIN m ON m.event_type = s.event_type AND m.rn = 1
    """,
    "Discrete order statistics the engine's percentile()/median "
    "(continuous, interpolating) cannot express: percentile_disc "
    "(0.5/0.9) as 1-based indexing into the sorted in-row value "
    "array (the returned value is always an actual data point, "
    "bit-identical across engines — no interpolation arithmetic), "
    "plus deterministic mode over floor-bucketed values (ties break "
    "to the smallest bucket via row_number, not engine-dependent "
    "mode())",
    ("agg", "census", "events"),
)
def events_mode_disc_census(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.array_sort(F.collect_list("value")).alias("vs"),
    )
    b = ev.withColumn("bucket", F.floor("value").cast("long")).groupBy(
        "event_type", "bucket"
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("bucket").asc()
    )
    m = (
        b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"))
    )

    def disc(q):
        return F.element_at(
            "vs", F.ceil(F.col("n") * F.lit(q)).cast("int")
        )

    return s.join(m, "event_type").select(
        "event_type",
        F.col("n").alias("n_events"),
        "mode_bucket",
        disc(0.5).alias("p50_disc"),
        disc(0.9).alias("p90_disc"),
    )


@_register(
    "group_by_all_except_census",
    """
    WITH slim AS (SELECT * EXCLUDE (o_orderdate, o_custkey) FROM orders)
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM slim
    GROUP BY ALL
    """,
    "Modern projection/grouping sugar: SELECT * EXCEPT (Spark) / "
    "EXCLUDE (DuckDB) drops wide payload columns without "
    "enumerating the keep-list, and GROUP BY ALL infers the "
    "grouping keys from the select list — the ergonomic surface "
    "analysts expect from a 2024-era engine, compiled to the same "
    "single-shuffle hash aggregate (column pruning still reaches "
    "the scan: the EXCEPT projection prunes, not materializes)",
    ("sql", "census", "orders"),
)
def group_by_all_except_census(spark, sf_dir):
    from ....sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH slim AS (SELECT * EXCEPT (o_orderdate, o_custkey) FROM orders)
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS total_price
        FROM slim
        GROUP BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Array set-operations census (head vs tail token windows)
# ---------------------------------------------------------------------------

@_register(
    "array_set_ops_census",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    ab AS (
      SELECT doc_id,
             list_slice(toks, 1, 12) AS a,
             list_slice(toks, greatest(len(toks) - 11, 1), len(toks)) AS b
      FROM t
    )
    SELECT doc_id,
           CAST(len(a) AS INTEGER)                                AS n_head,
           CAST(len(list_distinct(a)) AS INTEGER)                 AS n_head_distinct,
           CAST(len(list_distinct(list_concat(a, b))) AS INTEGER) AS n_union,
           CAST(len(list_distinct(list_filter(a, x -> list_contains(b, x))))
                AS INTEGER)                                       AS n_intersect,
           CAST(len(list_distinct(list_filter(a, x -> NOT list_contains(b, x))))
                AS INTEGER)                                       AS n_except
    FROM ab
    """,
    "Array set-operation census: head vs tail 12-token windows per "
    "document pushed through array_union / array_intersect / "
    "array_except / array_distinct / slice — all scan-local Catalyst "
    "HOFs (zero shuffle), emitted as cardinalities so the oracle is "
    "order-insensitive (both engines dedup, only sizes compare).",
    ("functions", "arrays", "documents"),
)
def array_set_ops_census(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    base = d.select("doc_id", toks.alias("toks"))
    a = F.slice(F.col("toks"), 1, 12)
    b_start = F.greatest(F.size("toks") - 11, F.lit(1))
    b = F.slice(F.col("toks"), b_start, F.lit(12))
    ab = base.select("doc_id", a.alias("a"), b.alias("b"))
    return ab.select(
        "doc_id",
        F.size("a").alias("n_head"),
        F.size(F.array_distinct("a")).alias("n_head_distinct"),
        F.size(F.array_union("a", "b")).alias("n_union"),
        F.size(F.array_intersect("a", "b")).alias("n_intersect"),
        F.size(F.array_except("a", "b")).alias("n_except"),
    )


# ---------------------------------------------------------------------------
# Date functions census #2 (calendar navigation family)
# ---------------------------------------------------------------------------

@_register(
    "date_functions_census2",
    """
    SELECT CAST(quarter(d) AS INTEGER)        AS qtr,
           CAST(weekofyear(d) AS INTEGER)     AS iso_week,
           CAST(dayofyear(d) AS INTEGER)      AS doy,
           last_day(d)                        AS month_end,
           CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_3m,
           CAST(count(*) AS BIGINT)           AS n_orders
    FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
    GROUP BY 1, 2, 3, 4, 5
    """,
    "Calendar-navigation function census over order dates: quarter, "
    "ISO week, day-of-year, last_day (month end), add_months with "
    "end-of-month clamping (Jan 31 + 1m = Feb 28 on BOTH engines, "
    "probed) — grouped so the result is dates-sized. Scan-local "
    "expressions; the aggregate is the only exchange.",
    ("functions", "dates", "orders"),
)
def date_functions_census2(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.select(
            F.quarter(d).alias("qtr"),
            F.weekofyear(d).alias("iso_week"),
            F.dayofyear(d).alias("doy"),
            F.last_day(d).alias("month_end"),
            F.add_months(d, 3).alias("plus_3m"),
        )
        .groupBy("qtr", "iso_week", "doy", "month_end", "plus_3m")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Network-address profiling: synthesized IPv4 → octets, class, CIDR
# ---------------------------------------------------------------------------

@_register(
    "ip_cidr_census",
    """
    WITH ips AS (
      SELECT DISTINCT user_id,
             (user_id * 2654435761) % 4294967296 AS ip
      FROM events
    ),
    oct AS (
      SELECT user_id,
             CAST(ip // 16777216 AS INTEGER) AS o1,
             CAST((ip // 65536) % 256 AS INTEGER) AS o2,
             CAST(ip // 65536 AS BIGINT) AS slash16
      FROM ips
    )
    SELECT CASE WHEN o1 < 128 THEN 'A' WHEN o1 < 192 THEN 'B'
                WHEN o1 < 224 THEN 'C' ELSE 'D/E' END AS ip_class,
           (o1 = 10) OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
             OR (o1 = 192 AND o2 = 168) AS is_private,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(DISTINCT slash16) AS BIGINT) AS n_slash16
    FROM oct GROUP BY 1, 2
    """,
    "Network-address profiling (the reference's INET ip_address "
    "column — PROJECT_DOCUMENTATION.md:162 — carried as a plain "
    "integer/string): per-user IPv4 synthesized by a deterministic "
    "Knuth multiplicative mix so both engines see identical "
    "addresses, then octet extraction, classful A/B/C bucketing, "
    "RFC-1918 private-range detection, and /16 CIDR cardinality per "
    "bucket — all pure integer arithmetic after one distinct-user "
    "pass. The shape of a bot/abuse network census at any scale.",
    ("functions", "network", "events"),
)
def ip_cidr_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ips = e.select("user_id").distinct().select(
        "user_id",
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)).alias("ip"),
    )
    oct_ = ips.select(
        "user_id",
        F.floor(F.col("ip") / 16777216).cast("int").alias("o1"),
        (F.floor(F.col("ip") / 65536) % 256).cast("int").alias("o2"),
        F.floor(F.col("ip") / 65536).cast("long").alias("slash16"),
    )
    ip_class = (
        F.when(F.col("o1") < 128, "A")
        .when(F.col("o1") < 192, "B")
        .when(F.col("o1") < 224, "C")
        .otherwise("D/E")
    )
    is_private = (
        (F.col("o1") == 10)
        | ((F.col("o1") == 172) & F.col("o2").between(16, 31))
        | ((F.col("o1") == 192) & (F.col("o2") == 168))
    )
    return (
        oct_.select(ip_class.alias("ip_class"), is_private.alias("is_private"), "slash16")
        .groupBy("ip_class", "is_private")
        .agg(
            F.count("*").alias("n_users"),
            F.countDistinct("slash16").alias("n_slash16"),
        )
    )


# ---------------------------------------------------------------------------
# Weekday × hour activity heatmap grid
# ---------------------------------------------------------------------------

@_register(
    "weekday_hour_heatmap_events",
    """
    WITH cells AS (
      SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
    SELECT dow, hod, n, n_users,
           floor(n / CAST(nt AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share
    FROM cells CROSS JOIN tot
    """,
    "Weekday × hour activity heatmap: the 7×24 grid of event counts, "
    "distinct users and traffic share — the capacity-planning / "
    "anomaly-baseline census every ops dashboard opens with, and the "
    "2-D companion to `fano_burstiness_by_type`'s dispersion scalar. "
    "One map-side-combined aggregate to ≤168 cells (the distinct-"
    "user count adds the only user-keyed expansion); shares are "
    "pinned divisions of exact integers. DuckDB's 0=Sunday dayofweek "
    "is shifted +1 in the oracle to Spark's 1=Sunday convention.",
    ("census", "timeseries", "events"),
)
def weekday_hour_heatmap_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek(F.col("ts")).alias("dow"),
        F.hour(F.col("ts")).alias("hod"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )
    tot = cells.agg(F.sum("n").alias("nt"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        F.col("n").cast("long").alias("n"),
        F.col("n_users").cast("long").alias("n_users"),
        _r6(F.col("n") / F.col("nt").cast("double")).alias("share"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS revenue report with grouping_id
# ---------------------------------------------------------------------------

@_register(
    "grouping_sets_revenue_report",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(CASE WHEN r_name IS NULL THEN 2 ELSE 0 END
                + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END
                AS INTEGER) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name),
                            (o_orderpriority), ())
    """,
    "GROUPING SETS revenue report — the irregular-lattice member of "
    "the SQL grouping surface next to `cube_status_priority_sales` "
    "(full cube) and `rollup_region_nation_sales` (hierarchy): one "
    "pass emits (region x priority), region totals, priority totals "
    "and the grand total, with an explicit grouping id derived from "
    "the NULL pattern (stated identically in both engines instead "
    "of engine-specific grouping_id() numbering; 'ALL' placeholders "
    "keep the levels distinguishable after coalesce). Spark expands "
    "grouping sets with a single Expand operator over the one "
    "shuffled aggregate — 4 groupings never mean 4 scans. Dimension "
    "joins are broadcast (region/nation/customer vs orders).",
    ("agg", "grouping", "sql-surface", "orders"),
)
def grouping_sets_revenue_report(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "o_orderpriority", "o_totalprice")
    )
    joined.createOrReplaceTempView("gs_rev_src")
    return spark.sql(
        """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(CASE WHEN r_name IS NULL THEN 2 ELSE 0 END
                    + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END
                    AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM gs_rev_src
        GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name),
                                (o_orderpriority), ())
        """
    )
