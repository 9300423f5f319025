"""Event-log analytics: windowed aggregation, sessions, funnels,
retention and attribution over the events table.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....operators.joins import asof_join, interval_overlap_join, range_join
from ...core import _r6, _register, _stable_avg4, _t


@_register(
    "window_running_user_value",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS INTEGER) AS seq
    FROM events
    """,
    "Analytic window: per-user running sum + sequence over event time (§2.7)",
    ("window", "events"),
)
def window_running_user_value(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        F.row_number().over(w).cast("int").alias("seq"),
    )


@_register(
    "events_hourly_agg",
    """
    SELECT date_trunc('hour', ts)                          AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR        AS window_end,
           user_id, event_type,
           count(*)                                        AS event_count,
           round(sum(value), 4)                            AS total_value,
           floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
    "A1 batch twin: 1-hour tumbling window groupBy + count/sum/avg "
    "(MSP:205-221), window struct flattened (A3)",
    ("agg", "timewindow", "events"),
)
def events_hourly_agg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "user_id", "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 4).alias("total_value"),
            _stable_avg4(F.sum("value"), F.count("*")).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id", "event_type", "event_count", "total_value", "avg_value",
        )
    )


@_register(
    "events_daily_agg",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)                  AS window_start,
           CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
           event_type,
           count(*)                                 AS event_count,
           count(DISTINCT user_id)                  AS unique_users,
           floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    "A2 batch twin: daily window + exact countDistinct (MSP:224-238; "
    "streaming twin uses approx_count_distinct)",
    ("agg", "timewindow", "distinct", "events"),
)
def events_daily_agg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.countDistinct("user_id").alias("unique_users"),
            _stable_avg4(F.sum("value"), F.count("*")).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "event_count", "unique_users", "avg_value",
        )
    )


@_register(
    "collect_set_user_events",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
    "collect_set parity (MSP:215): distinct-set agg, sorted + serialized "
    "for engine-stable comparison",
    ("agg", "collect_set", "events"),
)
def collect_set_user_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
            "event_types"
        ),
        F.countDistinct("event_type").alias("n_types"),
    )


@_register(
    "events_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
           count(*) AS n_events,
           floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1
    """,
    "F1 parity: schema-directed JSON field extraction + agg (MSP:106-121)",
    ("json", "agg", "events"),
)
def events_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn(
            "k_mod", (F.get_json_object("props", "$.k").cast("int") % 10)
        )
        .groupBy("k_mod")
        .agg(
            F.count("*").alias("n_events"),
            _stable_avg4(F.sum("value"), F.count("*")).alias("avg_value"),
        )
    )


@_register(
    "asof_join_purchase_view",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           p.ts       AS purchase_ts,
           v.ts       AS view_ts,
           v.event_id AS view_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    "As-of join (backward inclusive): each purchase matched to the most "
    "recent prior view per user; union+window implementation, one shuffle "
    "(SURVEY §2.4 extension)",
    ("join", "asof", "events"),
)
def asof_join_purchase_view(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id"],
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_right").alias("view_ts"),
        F.col("event_id_right").alias("view_id"),
    )


@_register(
    "events_sliding_window",
    """
    WITH contrib AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           event_type,
           count(*) AS event_count,
           round(sum(value), 4) AS total_value
    FROM contrib
    GROUP BY window_start, event_type
    """,
    "T2: 2-hour sliding window with 1-hour slide — each event lands in "
    "two overlapping windows (the oracle models this as a union of the "
    "two covering contributions)",
    ("agg", "timewindow", "sliding", "events"),
)
def events_sliding_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "event_count", "total_value",
        )
    )


@_register(
    "events_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
    "T2: session windows (30-min gap) per user via F.session_window; the "
    "oracle reproduces Spark's [first, last+gap) session bounds with "
    "lag-based island detection",
    ("agg", "session", "events"),
)
def events_session_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@_register(
    "events_median_value",
    """
    SELECT event_type,
           round(median(value), 4) + 0.0 AS median_value
    FROM events
    GROUP BY event_type
    """,
    "Grouped-agg pandas_udf (§2.11): exact per-group median — the "
    "aggregate Spark's built-ins reserve for percentile_approx in "
    "streaming; numpy/pandas interpolation matches SQL median",
    ("agg", "pandas_udf", "events"),
)
def events_median_value(spark, sf_dir):
    from ....functions.pandas_aggs import median_udf

    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        (F.round(median_udf("value"), 4) + F.lit(0.0)).alias("median_value")
    )


@_register(
    "events_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) + 0.0 AS p25,
           round(quantile_cont(value, 0.50), 4) + 0.0 AS p50,
           round(quantile_cont(value, 0.90), 4) + 0.0 AS p90
    FROM events
    GROUP BY event_type
    """,
    "Exact linear-interpolation percentiles per group (batch twin of "
    "the streaming approx_percentile path); Spark percentile() ≡ "
    "DuckDB quantile_cont()",
    ("agg", "percentile", "events"),
)
def events_value_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    def pct(q, name):
        return (F.round(F.expr(f"percentile(value, {q})"), 4) + F.lit(0.0)).alias(name)
    return e.groupBy("event_type").agg(
        pct(0.25, "p25"), pct(0.50, "p50"), pct(0.90, "p90")
    )


@_register(
    "sessionize_events_batch",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                       ts) > 14400
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) + 0.0 AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
    "Gap-and-island sessionization (batch twin of the "
    "applyInPandasWithState operator): lag marks 4-hour-gap session "
    "starts, running sum numbers islands, one agg per session — the "
    "window and the groupBy share the user_id partitioning",
    ("window", "session", "events"),
)
def sessionize_events_batch(spark, sf_dir):
    from ....streaming.stateful import sessionize_batch_oracle

    e = _t(spark, sf_dir, "events")
    out = sessionize_batch_oracle(e, gap="4 hours")
    return out.withColumn("total_value", F.col("total_value") + F.lit(0.0))


@_register(
    "events_pivot_by_type",
    """
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type = 'click'    THEN value END), 0.0), 4) AS click_value,
           round(coalesce(sum(CASE WHEN event_type = 'error'    THEN value END), 0.0), 4) AS error_value,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0), 4) AS purchase_value,
           round(coalesce(sum(CASE WHEN event_type = 'signup'   THEN value END), 0.0), 4) AS signup_value,
           round(coalesce(sum(CASE WHEN event_type = 'view'     THEN value END), 0.0), 4) AS view_value
    FROM events
    GROUP BY user_id
    """,
    "Pivot (long→wide): per-user value sums spread across the five "
    "event types — df.groupBy().pivot() with explicit pivot values "
    "(no extra distinct-discovery job; single shuffle)",
    ("pivot", "agg", "events"),
)
def events_pivot_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", types)  # explicit values: no discovery scan
        .sum("value")
    )
    return wide.select(
        "user_id",
        *[
            F.round(F.coalesce(F.col(t), F.lit(0.0)), 4).alias(f"{t}_value")
            for t in types
        ],
    )


@_register(
    "events_union_by_name",
    """
    SELECT event_type,
           count(*) AS n_rows,
           count(value) AS n_with_value,
           count(user_id) AS n_with_user
    FROM (
      (SELECT event_id, event_type, user_id, value
       FROM events WHERE event_type = 'click')
      UNION ALL BY NAME
      (SELECT event_id, event_type, value
       FROM events WHERE event_type = 'purchase')
      UNION ALL BY NAME
      (SELECT event_id, event_type, user_id
       FROM events WHERE event_type = 'error')
    )
    GROUP BY event_type
    """,
    "unionByName(allowMissingColumns) — the canonical-stream merge "
    "SURVEY §2.9 suggests for the Postgres-CDC + Cassandra activity "
    "feeds: sources with differing column subsets align by name, "
    "absent columns become typed nulls",
    ("setops", "union", "events"),
)
def events_union_by_name(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        "event_id", "event_type", "user_id", "value"
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "event_type", "value"
    )
    c = e.filter(F.col("event_type") == "error").select(
        "event_id", "event_type", "user_id"
    )
    unioned = a.unionByName(b, allowMissingColumns=True).unionByName(
        c, allowMissingColumns=True
    )
    return unioned.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_with_value"),
        F.count("user_id").alias("n_with_user"),
    )


@_register(
    "range_join_incident_windows",
    """
    SELECT i.event_id AS incident_id, count(*) AS n_in_window
    FROM events e
    JOIN (SELECT event_id, ts FROM events WHERE value > 250) i
      ON e.ts BETWEEN i.ts - INTERVAL 2 HOUR AND i.ts + INTERVAL 2 HOUR
    GROUP BY 1
    """,
    "Keyless point-in-interval range join: high-value 'incident' "
    "events open ±2 h windows; count all events inside each. "
    "Implemented as a bucketized equi-join (intervals explode into "
    "coarse time buckets, points map to exactly one bucket) instead "
    "of the BroadcastNestedLoopJoin a bare BETWEEN condition yields",
    ("join", "range", "events"),
)
def range_join_incident_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    incidents = e.filter(F.col("value") > 250).select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    matches = range_join(
        e.select("event_id", "ts"),
        incidents,
        point_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=4 * 3600,
    )
    return matches.groupBy("incident_id").agg(
        F.count("*").alias("n_in_window")
    )


@_register(
    "events_window_frame_census",
    """
    SELECT user_id, event_id,
           floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                 * 10000 + 0.5) / 10000.0 AS rows_avg4,
           min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             AS rows_min4,
           floor(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                 * 10000 + 0.5) / 10000.0 AS range_sum_1h,
           CAST(count(*) OVER (PARTITION BY user_id
                               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS range_n_1h
    FROM events
    WHERE user_id % 7 = 0
    """,
    "Window frame census: ROWS BETWEEN moving aggregates (tie-broken "
    "ordering) and event-time RANGE BETWEEN frames over epoch seconds "
    "— one exchange per partition key, frames evaluated in a single "
    "sort pass",
    ("window", "events"),
)
def events_window_frame_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w_rows = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    stable4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    return e.select(
        "user_id",
        "event_id",
        stable4(F.avg("value").over(w_rows)).alias("rows_avg4"),
        F.min("value").over(w_rows).alias("rows_min4"),
        stable4(F.sum("value").over(w_range)).alias("range_sum_1h"),
        F.count("*").over(w_range).alias("range_n_1h"),
    )


@_register(
    "events_unpivot_metrics",
    """
    WITH agg AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n_events,
             round(sum(value), 4) AS total_value,
             round(max(value), 4) AS max_value
      FROM events GROUP BY event_type
    )
    SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM agg
    UNION ALL
    SELECT event_type, 'total_value', total_value FROM agg
    UNION ALL
    SELECT event_type, 'max_value', max_value FROM agg
    """,
    "Unpivot/melt (wide→long): per-type metric columns rotated into "
    "(metric, value) rows — Spark `unpivot` vs a UNION ALL oracle; "
    "the melt is a zero-shuffle per-row expansion after one agg",
    ("setops", "reshape", "events"),
)
def events_unpivot_metrics(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )
    return agg.unpivot(
        ["event_type"],
        ["n_events", "total_value", "max_value"],
        "metric",
        "metric_value",
    )


# ---------------------------------------------------------------------------
# Product analytics: ordered funnel + cohort retention
# ---------------------------------------------------------------------------

@_register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t_view
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t_view,
             min(e.ts) FILTER (
               WHERE e.event_type = 'click' AND e.ts > v.t_view) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      GROUP BY e.user_id, v.t_view
    ),
    p AS (
      SELECT e.user_id, c.t_view, c.t_click,
             min(e.ts) FILTER (
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click)
               AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      GROUP BY e.user_id, c.t_view, c.t_click
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t_view) AS BIGINT) AS n_view,
           CAST(count(t_click) AS BIGINT) AS n_click_after_view,
           CAST(count(t_purchase) AS BIGINT) AS n_purchase_after_click
    FROM p
    """,
    "Ordered conversion funnel (view → click → purchase, each stage "
    "strictly after the previous user-level first occurrence): three "
    "grouped conditional-min passes on the same user_id key — the "
    "shuffles co-partition, and each stage carries one timestamp per "
    "user, not the event log. The standard product-analytics "
    "sequential funnel the reference's activity pipeline feeds",
    ("analytics", "funnel", "events"),
)
def funnel_view_click_purchase(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    v = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        )
    )
    c = (
        e.join(v, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    p = (
        e.join(c, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return p.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click_after_view"),
        F.count("t_purchase").alias("n_purchase_after_click"),
    )


@_register(
    "cohort_retention_events",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, a.active_day) AS INTEGER)
             AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    WHERE datediff('day', f.cohort_day, a.active_day) IN (0, 1, 3, 7)
    GROUP BY 1, 2
    """,
    "Cohort retention: users cohorted by first-seen day, activity "
    "re-joined to count distinct active users at day offsets "
    "0/1/3/7 — the standard growth-analytics matrix. Both the cohort "
    "table and the distinct (user, day) activity table are one "
    "aggregate each over the same user_id shuffle key; the join "
    "output is bounded by users × offsets, never events²",
    ("analytics", "retention", "events"),
)
def cohort_retention_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = e.select(
        "user_id", F.to_date("ts").alias("active_day")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .withColumn(
            "day_offset",
            F.datediff(F.col("active_day"), F.col("cohort_day")).cast("int"),
        )
        .filter(F.col("day_offset").isin(0, 1, 3, 7))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@_register(
    "event_type_transitions",
    """
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS transition_cnt
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, transition_cnt,
           floor(transition_cnt
                 / CAST(sum(transition_cnt) OVER (PARTITION BY event_type)
                        AS BIGINT) * 1000000 + 0.5) / 1000000.0 AS prob
    FROM t
    """,
    "First-order Markov transition matrix over per-user event "
    "sequences: lead() within (user, event-time) order — one shuffle "
    "keyed on user_id — then a grouped count and a per-source-state "
    "probability normalization over the tiny #types² matrix. The "
    "sequence-mining primitive for behavioral modeling",
    ("window", "agg", "events", "sequence"),
)
def event_type_transitions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy("event_type", "next_type").agg(
        F.count("*").alias("transition_cnt")
    )
    tot = F.sum("transition_cnt").over(Window.partitionBy("event_type"))
    q = F.col("transition_cnt") / tot
    return t.select(
        "event_type",
        "next_type",
        "transition_cnt",
        (F.floor(q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias("prob"),
    )


@_register(
    "session_path_mining",
    """
    WITH ranked AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, day,
             string_agg(event_type, '->' ORDER BY ts, event_id) AS path
      FROM ranked WHERE rn <= 5 GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1 HAVING count(*) >= 5
    """,
    "Clickstream path mining: each (user, day) session's first five "
    "events become an ordered path string (deterministic array_sort "
    "over (ts, id, type) structs — no cross-partition ordering "
    "assumptions), then frequent paths (support ≥5) surface. One "
    "shuffle keyed on (user, day), then a path-cardinality-sized "
    "aggregate; the funnel-free way to discover what sequences users "
    "actually follow",
    ("window", "agg", "events", "sequence"),
)
def session_path_mining(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    ranked = e.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 5)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: s["event_type"],
    )
    paths = ranked.groupBy("user_id", "day").agg(
        F.concat_ws("->", ordered).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .filter(F.col("n_sessions") >= 5)
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
    from ....operators.scale import dense_ids

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
# Audience overlap between event types (exact pairwise co-usage)
# ---------------------------------------------------------------------------

@_register(
    "audience_overlap_event_types",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
           floor(n_both / CAST(ta.n + tb.n - n_both AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS jaccard
    FROM pairs
    JOIN tot ta ON ta.event_type = type_a
    JOIN tot tb ON tb.event_type = type_b
    """,
    "Exact audience-overlap matrix between event types: |A∩B|, per-"
    "type totals and Jaccard for every type pair — the segment-"
    "overlap question behind campaign planning. The distinct "
    "(user,type) layer is ONE users-keyed shuffle; the pair self-join "
    "is co-partitioned on user_id with a bounded ≤C(5,2) fan-out per "
    "user, so the plan is users-sized at any fact scale; the "
    "types-sized totals broadcast back. All counts are exact "
    "integers; Jaccard is one pinned division.",
    ("agg", "overlap", "events"),
)
def audience_overlap_event_types(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    tot = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    ta = tot.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    uni = (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_both").cast("long").alias("n_both"),
            _r6(F.col("n_both") / uni).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# U-shaped (position-based) multi-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7
_ATTR_EDGE_MICRO = 400000  # first and last touch: 40% each
_ATTR_MID_MICRO = 200000  # middle touches split the remaining 20%


@_register(
    "attribution_position_based",
    f"""
    WITH purchases AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.pid, e.event_type AS channel, e.ts, e.event_id,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY e.ts, e.event_id) AS pos,
             count(*) OVER (PARTITION BY p.pid) AS k
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts < p.pts
       AND e.ts >= p.pts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
    ),
    credited AS (
      SELECT channel,
             CASE WHEN k = 1 THEN 1000000
                  WHEN k = 2 THEN 500000
                  WHEN pos = 1 OR pos = k THEN {_ATTR_EDGE_MICRO}
                  ELSE CAST({_ATTR_MID_MICRO} // (k - 2) AS BIGINT)
             END AS micro
      FROM touches
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(micro) AS BIGINT) AS credit_micro
    FROM credited GROUP BY channel
    """,
    "U-shaped (position-based) multi-touch attribution: every "
    "purchase distributes 1.0 of credit over its view/click touches "
    "in the prior 7 days — 40% to the first touch, 40% to the last, "
    "the middle 20% split evenly (k=1 → 100%, k=2 → 50/50). Credits "
    "are INTEGER micro-units (floor-divided for middles) so per-"
    "channel totals are exact integer sums — no float-order hazard at "
    "any parallelism. The touch join is user-keyed with a 7-day time "
    "bound (co-partitioned, never a cross product); position/k come "
    "from one per-purchase window. Complements the last-touch "
    "operator (`attribution_last_touch`).",
    ("attribution", "window", "events"),
)
def attribution_position_based(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        F.col("ts").alias("pts"),
    )
    touches = (
        e.filter(F.col("event_type").isin("view", "click"))
        .join(
            purchases,
            (F.col("user_id") == F.col("puser"))
            & (F.col("ts") < F.col("pts"))
            & (
                F.col("ts")
                >= F.col("pts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")
            ),
        )
        .select(
            "pid", F.col("event_type").alias("channel"), "ts", "event_id"
        )
    )
    wpos = Window.partitionBy("pid").orderBy("ts", "event_id")
    wk = Window.partitionBy("pid")
    credited = touches.select(
        "channel",
        F.row_number().over(wpos).alias("pos"),
        F.count("*").over(wk).alias("k"),
    ).select(
        "channel",
        F.when(F.col("k") == 1, 1000000)
        .when(F.col("k") == 2, 500000)
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")), _ATTR_EDGE_MICRO
        )
        .otherwise(
            F.floor(F.lit(_ATTR_MID_MICRO) / (F.col("k") - 2)).cast("long")
        )
        .alias("micro"),
    )
    return credited.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.sum("micro").cast("long").alias("credit_micro"),
    )


# ---------------------------------------------------------------------------
# DAU / MAU stickiness per day
# ---------------------------------------------------------------------------

@_register(
    "dau_mau_stickiness",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
    mu AS (
      SELECT DISTINCT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE)
               AS month, user_id
      FROM events
    ),
    mau AS (SELECT month, CAST(count(*) AS BIGINT) AS mau FROM mu GROUP BY 1)
    SELECT d.day, d.dau, m.mau,
           floor(d.dau / CAST(m.mau AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS stickiness
    FROM dau d
    JOIN mau m ON m.month = CAST(date_trunc('month', d.day) AS DATE)
    """,
    "DAU/MAU stickiness per day: exact distinct users at the daily "
    "and calendar-month grains, joined so each day reports its "
    "month's stickiness ratio — the engagement-health metric next to "
    "`daily_new_vs_returning_users` and the sliding-7-day distinct "
    "operators. Both distinct layers are single user-keyed shuffles "
    "(at 100 TB: partial distinct map-side, or swap the MAU layer "
    "for the mergeable HLL/bitmap operators this repo ships); the "
    "month join is months-sized broadcast.",
    ("analytics", "distinct", "events"),
)
def dau_mau_stickiness(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    mu = e.select(
        F.trunc(F.col("ts").cast("date"), "month").alias("month"), "user_id"
    ).distinct()
    mau = mu.groupBy("month").agg(F.count("*").alias("mau"))
    return (
        dau.join(
            F.broadcast(mau),
            F.trunc(F.col("day"), "month") == F.col("month"),
        )
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("mau").cast("long").alias("mau"),
            _r6(F.col("dau") / F.col("mau").cast("double")).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion-latency CDF at fixed hour offsets
# ---------------------------------------------------------------------------

_CDF_HOURS = (1, 2, 4, 8, 24, 48, 96)


@_register(
    "conversion_cdf_hours",
    f"""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY 1
    ),
    conv AS (
      SELECT CAST(floor((floor(epoch(tp)) - floor(epoch(t0))) / 3600)
                  AS BIGINT) AS lag_h
      FROM per_user
      WHERE t0 IS NOT NULL AND tp IS NOT NULL AND tp >= t0
    ),
    base AS (
      SELECT CAST((SELECT count(*) FROM per_user WHERE t0 IS NOT NULL)
                  AS BIGINT) AS n_viewers,
             CAST(count(*) AS BIGINT) AS n_converted
      FROM conv
    ),
    grid AS (SELECT unnest([{", ".join(str(h) for h in _CDF_HOURS)}]) AS h)
    SELECT CAST(g.h AS BIGINT) AS within_hours,
           b.n_viewers,
           b.n_converted,
           CAST((SELECT count(*) FROM conv c WHERE c.lag_h < g.h) AS BIGINT)
             AS n_within,
           floor((SELECT count(*) FROM conv c WHERE c.lag_h < g.h)
                 / CAST(b.n_viewers AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS share_of_viewers
    FROM grid g CROSS JOIN base b
    """,
    "Conversion-latency CDF: among users with a first view, the "
    "share whose first purchase lands within 1/2/4/8/24/48/96 hours "
    "— the funnel-velocity curve behind attribution-window and "
    "retargeting-deadline choices, summarizing what "
    "`conversion_latency_percentiles` reports as quantiles from the "
    "opposite direction. One users-sized rollup; the CDF evaluates "
    "the 7-point grid against integer hour lags (conditional counts "
    "in one pass on the Spark side, mirrored by the oracle's "
    "correlated counts over the same integers).",
    ("funnel", "analytics", "events"),
)
def conversion_cdf_hours(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    viewers = per_user.filter(F.col("t0").isNotNull())
    conv = viewers.filter(
        F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0"))
    ).select(
        F.floor(
            (
                F.col("tp").cast("timestamp").cast("long")
                - F.col("t0").cast("timestamp").cast("long")
            )
            / 3600
        ).alias("lag_h")
    )
    base = viewers.agg(F.count("*").alias("n_viewers")).crossJoin(
        conv.agg(F.count("*").alias("n_converted"))
    )
    counts = conv.agg(
        *[
            F.sum(F.when(F.col("lag_h") < h, 1).otherwise(0)).alias(f"w{h}")
            for h in _CDF_HOURS
        ]
    )
    grid = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(h).alias("h"), F.col(f"w{h}").alias("n_within")
                )
                for h in _CDF_HOURS
            ]
        )
    ).alias("g")
    return (
        counts.crossJoin(F.broadcast(base))
        .select(grid, "n_viewers", "n_converted")
        .select(
            F.col("g.h").cast("long").alias("within_hours"),
            F.col("n_viewers").cast("long").alias("n_viewers"),
            F.col("n_converted").cast("long").alias("n_converted"),
            F.col("g.n_within").cast("long").alias("n_within"),
            _r6(
                F.col("g.n_within") / F.col("n_viewers").cast("double")
            ).alias("share_of_viewers"),
        )
    )


@_register(
    "attribution_linear",
    f"""
    WITH purchases AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.pid, e.event_type AS channel,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY e.ts, e.event_id) AS pos,
             count(*) OVER (PARTITION BY p.pid) AS k
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts < p.pts
       AND e.ts >= p.pts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
    ),
    credited AS (
      SELECT channel,
             CAST(1000000 // k AS BIGINT)
               + CASE WHEN pos = 1 THEN CAST(1000000 % k AS BIGINT)
                      ELSE 0 END AS micro
      FROM touches
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(micro) AS BIGINT) AS credit_micro
    FROM credited GROUP BY channel
    """,
    "Linear (even-split) attribution completing the last-touch / "
    "position-based family: every view/click inside the 7-day "
    "pre-purchase window shares the conversion credit equally in "
    "exact integer micro-credits (floor division, remainder to the "
    "first touch — credits per purchase sum to exactly 1,000,000, "
    "no float drift). Purchase-keyed window over bounded per-user "
    "touch fan-out, then one channel aggregate",
    ("join", "attribution", "events"),
)
def attribution_linear(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    touches_raw = purchases.join(
        e.filter(F.col("event_type").isin("view", "click")).select(
            F.col("user_id").alias("tu"),
            F.col("event_type").alias("channel"),
            F.col("ts").alias("tts"),
            F.col("event_id").alias("tid"),
        ),
        (F.col("tu") == F.col("user_id"))
        & (F.col("tts") < F.col("pts"))
        & (
            F.col("tts")
            >= F.col("pts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAY")
        ),
    )
    w = Window.partitionBy("pid").orderBy("tts", "tid")
    wc = Window.partitionBy("pid")
    credited = touches_raw.select(
        "channel",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(wc).alias("k"),
    ).select(
        "channel",
        (
            F.expr("1000000 div k").cast("long")
            + F.when(F.col("pos") == 1, (F.lit(1000000) % F.col("k")).cast("long"))
            .otherwise(F.lit(0))
        ).alias("micro"),
    )
    return credited.groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.sum("micro").alias("credit_micro"),
    )


# ---------------------------------------------------------------------------
# Consistent-hashing ring: shard map + keys moved when scaling 8 -> 9
# ---------------------------------------------------------------------------

_CH_VNODES = 64
_CH_SPACE = 2 ** 60


def _ring_sql(n_servers: int, name: str) -> str:
    """Build the vnode ring + successor intervals for n servers.
    Positions are 60-bit md5 integers of 'ring:sK#vnJ' — identical
    strings hash identically in both engines. The interval table is
    (lo, hi] per vnode via lag, plus a wraparound sentinel owned by
    the first vnode."""
    return f"""
    {name}_vn AS (
      SELECT 's' || CAST(i // {_CH_VNODES} AS VARCHAR) AS server,
             CAST(CAST(('0x' || substr(md5('ring:s'
                 || CAST(i // {_CH_VNODES} AS VARCHAR) || '#vn'
                 || CAST(i % {_CH_VNODES} AS VARCHAR)), 1, 15))
               AS UBIGINT) AS BIGINT) AS pos
      FROM (SELECT unnest(generate_series(0,
                   {n_servers * _CH_VNODES - 1})) AS i)
    ),
    {name}_iv AS (
      SELECT server,
             coalesce(lag(pos) OVER (ORDER BY pos), -1) AS lo,
             pos AS hi
      FROM {name}_vn
      UNION ALL
      SELECT first(server ORDER BY pos) AS server,
             max(pos) AS lo, {_CH_SPACE} AS hi
      FROM {name}_vn
    )"""


@_register(
    "consistent_hash_rebalance",
    f"""
    WITH keys AS (
      SELECT user_id,
             CAST(CAST(('0x' || substr(md5('key:'
                 || CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
               AS BIGINT) AS k
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    {_ring_sql(8, "r8")},
    {_ring_sql(9, "r9")},
    o8 AS (
      SELECT k.user_id, iv.server AS owner8
      FROM keys k JOIN r8_iv iv ON k.k > iv.lo AND k.k <= iv.hi
    ),
    o9 AS (
      SELECT k.user_id, iv.server AS owner9
      FROM keys k JOIN r9_iv iv ON k.k > iv.lo AND k.k <= iv.hi
    ),
    assigned AS (
      SELECT o8.user_id, o8.owner8, o9.owner9
      FROM o8 JOIN o9 ON o8.user_id = o9.user_id
    ),
    servers AS (SELECT 's' || CAST(unnest(generate_series(0, 8)) AS VARCHAR)
                  AS server)
    SELECT s.server,
           CAST(coalesce(sum(CASE WHEN b.owner8 = s.server
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS keys_8_servers,
           CAST(coalesce(sum(CASE WHEN b.owner9 = s.server
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS keys_9_servers,
           CAST(coalesce(sum(CASE WHEN b.owner9 = s.server
                                  AND b.owner8 <> s.server
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS gained,
           CAST(coalesce(sum(CASE WHEN b.owner8 = s.server
                                  AND b.owner9 <> s.server
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS lost
    FROM servers s LEFT JOIN assigned b ON TRUE
    GROUP BY 1
    """,
    "Consistent-hashing shard map with an elastic-scaling audit — "
    "the partitioning discipline behind every distributed KV/cache "
    f"tier: a 60-bit md5 ring with {_CH_VNODES} virtual nodes per "
    "server (vnode positions derived in-engine from literal seed "
    "strings, so both engines build the identical ring), keys own "
    "their successor vnode via a (lo, hi] interval table built with "
    "one lag window over the 512-row ring plus a wraparound "
    "sentinel. The report: per-server key counts under 8 and 9 "
    "servers and the gained/lost flows — consistent hashing moves "
    "only ~1/9 of keys where mod-N would reshuffle ~8/9, which IS "
    "the reason this operator exists. Spark matches keys to "
    "intervals with a broadcast of the 513-row table; a bucketed "
    "equi-join (negative_sampling_pairs pattern) is the stated "
    "path if the ring ever outgrew a broadcast.",
    ("systems", "partitioning", "sharding", "events"),
)
def consistent_hash_rebalance(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    khash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("key:"), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keys = (
        e.select("user_id").distinct().select("user_id", khash.alias("k"))
    ).localCheckpoint(eager=False)

    def ring(n_servers):
        vn = spark.range(n_servers * _CH_VNODES).select(
            F.concat(
                F.lit("s"), F.expr(f"id div {_CH_VNODES}").cast("string")
            ).alias("server"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ring:s"),
                            F.expr(f"id div {_CH_VNODES}").cast("string"),
                            F.lit("#vn"),
                            (F.col("id") % _CH_VNODES).cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("pos"),
        )
        w = Window.orderBy("pos")
        iv = vn.select(
            "server",
            F.coalesce(F.lag("pos").over(w), F.lit(-1)).alias("lo"),
            F.col("pos").alias("hi"),
        )
        wrap = vn.orderBy("pos").limit(1).crossJoin(
            vn.agg(F.max("pos").alias("mx"))
        ).select(
            "server", F.col("mx").alias("lo"), F.lit(_CH_SPACE).alias("hi")
        )
        return iv.unionAll(wrap)

    def owners(ring_iv, alias):
        return keys.join(
            F.broadcast(ring_iv),
            (F.col("k") > F.col("lo")) & (F.col("k") <= F.col("hi")),
        ).select("user_id", F.col("server").alias(alias))

    both = owners(ring(8), "owner8").join(owners(ring(9), "owner9"), "user_id")
    servers = spark.range(9).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("server")
    )
    joined = F.broadcast(servers).crossJoin(both)
    return joined.groupBy("server").agg(
        F.coalesce(
            F.sum(F.when(F.col("owner8") == F.col("server"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("keys_8_servers"),
        F.coalesce(
            F.sum(F.when(F.col("owner9") == F.col("server"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("keys_9_servers"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("owner9") == F.col("server"))
                    & (F.col("owner8") != F.col("server")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("gained"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("owner8") == F.col("server"))
                    & (F.col("owner9") != F.col("server")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("lost"),
    )


# ---------------------------------------------------------------------------
# Exact Shapley-value attribution over the 3-channel coalition lattice
# ---------------------------------------------------------------------------

# channel -> mask bit
_SHAP_CHANNELS = (("view", 1), ("click", 2), ("signup", 4))
# phi_i pairs: (without-i mask, with-i mask, weight expressed as
# divisor 3 or 6); generated so both engines state the identical
# fixed-order formula
_SHAP_PAIRS = {
    "view": [(0, 1, 3), (2, 3, 6), (4, 5, 6), (6, 7, 3)],
    "click": [(0, 2, 3), (1, 3, 6), (4, 6, 6), (5, 7, 3)],
    "signup": [(0, 4, 3), (1, 5, 6), (2, 6, 6), (3, 7, 3)],
}


def _phi_sql(ch: str) -> str:
    return " + ".join(
        f"(v{w} - v{wo}) / {d}.0" for wo, w, d in _SHAP_PAIRS[ch]
    )


@_register(
    "shapley_attribution_channels",
    f"""
    WITH fp AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY 1
    ),
    u AS (
      -- the touch set is PRE-first-purchase (all history for
      -- non-converters) — post-purchase touches carry no causal
      -- credit, and this is what makes the coalition cells vary
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'view'
                      AND (fp.tp IS NULL OR e.ts < fp.tp)
                 THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN e.event_type = 'click'
                             AND (fp.tp IS NULL OR e.ts < fp.tp)
                        THEN 1 ELSE 0 END)
               + 4 * max(CASE WHEN e.event_type = 'signup'
                             AND (fp.tp IS NULL OR e.ts < fp.tp)
                        THEN 1 ELSE 0 END) AS mask,
             max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events e JOIN fp ON fp.user_id = e.user_id
      GROUP BY 1
    ),
    cells AS (
      SELECT mask, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM u GROUP BY 1
    ),
    piv AS (
      SELECT {", ".join(
          f"coalesce(max(CASE WHEN mask = {m} THEN "
          f"k / CAST(n AS DOUBLE) END), 0.0) AS v{m}"
          for m in range(8))}
      FROM cells
    )
    SELECT 'coalition_' || CAST(mask AS VARCHAR) AS key,
           n AS n_users, k AS n_conv,
           floor(k / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS value
    FROM cells
    {"".join(
        f'''UNION ALL
    SELECT 'phi_{ch}', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           floor(({_phi_sql(ch)}) * 1000000 + 0.5) / 1000000.0
    FROM piv
    ''' for ch, _ in _SHAP_CHANNELS)}
    """,
    "EXACT Shapley-value channel attribution — the game-theoretic "
    "gold standard the heuristic attribution family (last-touch / "
    "linear / position-based) approximates: users partition into "
    "the 8 coalitions of channels {view, click, signup} touched "
    "BEFORE their first purchase (full history for non-converters), each coalition's conversion rate is the "
    "characteristic function (exact count ratio, empty cells "
    "contribute 0), and each channel's phi is the closed-form "
    "3-player Shapley sum of weighted marginal contributions — a "
    "FIXED 4-term formula per channel stated identically in both "
    "engines, so axioms (efficiency: sum phi = v(full) - v(empty)) "
    "hold to rounding. One user rollup, one 8-cell aggregate; the "
    "lattice arithmetic is constant-sized at any scale.",
    ("attribution", "game-theory", "events"),
)
def shapley_attribution_channels(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    fp = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp")
    )
    pre = F.col("tp").isNull() | (F.col("ts") < F.col("tp"))

    def touch(t, mult):
        return mult * F.max(
            F.when((F.col("event_type") == t) & pre, 1).otherwise(0)
        )

    u = (
        e.join(fp, "user_id")
        .groupBy("user_id")
        .agg(
            (touch("view", 1) + touch("click", 2) + touch("signup", 4)).alias(
                "mask"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
    )
    cells = u.groupBy("mask").agg(
        F.count("*").alias("n"), F.sum("conv").alias("k")
    ).localCheckpoint(eager=False)
    piv = cells.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        F.col("mask") == m,
                        F.col("k") / F.col("n").cast("double"),
                    )
                ),
                F.lit(0.0),
            ).alias(f"v{m}")
            for m in range(8)
        ]
    )
    coal = cells.select(
        F.concat(F.lit("coalition_"), F.col("mask").cast("string")).alias(
            "key"
        ),
        F.col("n").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("n_conv"),
        _r6(F.col("k") / F.col("n").cast("double")).alias("value"),
    )
    out = coal
    for ch, _bit in _SHAP_CHANNELS:
        terms = _SHAP_PAIRS[ch]
        phi = sum(
            (
                (F.col(f"v{w}") - F.col(f"v{wo}")) / float(d)
                for wo, w, d in terms[1:]
            ),
            (F.col(f"v{terms[0][1]}") - F.col(f"v{terms[0][0]}"))
            / float(terms[0][2]),
        )
        out = out.unionAll(
            piv.select(
                F.lit(f"phi_{ch}").alias("key"),
                F.lit(0).cast("long").alias("n_users"),
                F.lit(0).cast("long").alias("n_conv"),
                _r6(phi).alias("value"),
            )
        )
    return out


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue per user by cohort age
# ---------------------------------------------------------------------------

@_register(
    "cohort_ltv_curve",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('month', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY 1
    ),
    purchases AS (
      SELECT e.user_id, f.cohort,
             date_diff('month', f.cohort,
                       CAST(date_trunc('month', e.ts) AS DATE)) AS age,
             CAST(floor(e.value * 10000) AS BIGINT) AS rev
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
    ),
    sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
      FROM first_seen GROUP BY 1
    ),
    rev_age AS (
      SELECT cohort, age, CAST(sum(rev) AS BIGINT) AS rev
      FROM purchases GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, age,
             CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_rev
      FROM rev_age
    )
    SELECT c.cohort, CAST(c.age AS INTEGER) AS age_months,
           s.cohort_users, c.cum_rev,
           CAST(c.cum_rev // s.cohort_users AS BIGINT)
             AS ltv_per_user
    FROM cum c JOIN sizes s ON s.cohort = c.cohort
    """,
    "Cohort LTV curve — the unit-economics readout behind every "
    "payback-period decision: users cohort by first-seen month, "
    "purchase revenue accumulates by months-since-cohort, and "
    "each (cohort, age) cell reports cumulative revenue per "
    "cohort user in exact integer ten-thousandths (floor division "
    "— both engines truncate identically). The revenue companion "
    "to `cohort_retention_events` (same triangle, counts) — "
    "retention says WHO stays, LTV says what staying is worth. "
    "Running sums partition per cohort over month-grained ages; "
    "everything is cohort-grid-sized after one fact rollup.",
    ("bi", "cohort", "revenue", "events"),
)
def cohort_ltv_curve(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.trunc(F.min("ts").cast("date"), "month").alias("cohort")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort",
            (
                F.months_between(
                    F.trunc(F.col("ts").cast("date"), "month"),
                    F.col("cohort"),
                )
            )
            .cast("long")
            .alias("age"),
            F.floor(F.col("value") * 10000).cast("long").alias("rev"),
        )
    )
    sizes = first_seen.groupBy("cohort").agg(
        F.count("*").alias("cohort_users")
    )
    rev_age = purchases.groupBy("cohort", "age").agg(
        F.sum("rev").alias("rev")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev_age.select(
        "cohort", "age", F.sum("rev").over(w).alias("cum_rev")
    )
    return cum.join(F.broadcast(sizes), "cohort").select(
        "cohort",
        F.col("age").cast("int").alias("age_months"),
        F.col("cohort_users").cast("long").alias("cohort_users"),
        F.col("cum_rev").cast("long").alias("cum_rev"),
        F.expr("cum_rev div cohort_users").cast("long").alias(
            "ltv_per_user"
        ),
    )


# ---------------------------------------------------------------------------
# Time-decay attribution (exponential half-life in integer halvings)
# ---------------------------------------------------------------------------

_TD_WINDOW_DAYS = 7


@_register(
    "attribution_time_decay",
    f"""
    WITH purchases AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT p.pid, e.event_type AS channel,
             date_diff('second', e.ts, p.pts) // 86400 AS age_days
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts < p.pts
       AND e.ts >= p.pts - INTERVAL {_TD_WINDOW_DAYS} DAY
    ),
    weighted AS (
      -- half-life = 1 day in pure integers: weight = 2^(6 - age)
      SELECT pid, channel,
             CAST(64 // power(2, least(age_days, 6)) AS BIGINT) AS w
      FROM touches
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(w) AS BIGINT) AS decay_weight
    FROM weighted GROUP BY channel
    """,
    "Time-decay attribution with a 1-day half-life in PURE INTEGER "
    "halvings (weight = 2^(6 - age_days), floor-capped at age 6): "
    "recent touches inside the 7-day pre-purchase window earn "
    "exponentially more credit — the recency-weighted member "
    "completing the attribution five: last-touch, linear, "
    "position-based, Shapley, time-decay. Integer weights make the "
    "channel totals order-free exact sums; the touch join is the "
    "same bounded purchase-keyed fan-out as `attribution_linear`.",
    ("join", "attribution", "events"),
)
def attribution_time_decay(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    touches = purchases.join(
        e.filter(F.col("event_type").isin("view", "click")).select(
            F.col("user_id").alias("tu"),
            F.col("event_type").alias("channel"),
            F.col("ts").alias("tts"),
        ),
        (F.col("tu") == F.col("user_id"))
        & (F.col("tts") < F.col("pts"))
        & (
            F.col("tts")
            >= F.col("pts") - F.expr(f"INTERVAL {_TD_WINDOW_DAYS} DAY")
        ),
    ).select(
        "channel",
        F.expr(
            "(CAST(CAST(pts AS TIMESTAMP) AS LONG)"
            " - CAST(CAST(tts AS TIMESTAMP) AS LONG)) div 86400"
        ).alias("age_days"),
    )
    w = F.expr("64 div CAST(power(2, least(age_days, 6)) AS BIGINT)").cast(
        "long"
    )
    return touches.select("channel", w.alias("w")).groupBy("channel").agg(
        F.count("*").alias("n_touches"),
        F.sum("w").cast("long").alias("decay_weight"),
    )


# ---------------------------------------------------------------------------
# Post-click next action: what users do instead of purchasing
# ---------------------------------------------------------------------------

_PC_TIMEOUT_US = 3600 * 1_000_000  # next action within 1 hour


@_register(
    "post_click_next_action",
    f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type,
             lead(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_us
      FROM events
    ),
    clicks AS (
      SELECT CASE
               WHEN next_type IS NULL THEN 'session_end'
               WHEN next_us - us > {_PC_TIMEOUT_US} THEN 'timeout'
               ELSE next_type END AS next_action
      FROM ordered WHERE event_type = 'click'
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM clicks)
    SELECT c.next_action,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(count(*) * 1000000 // t.n AS BIGINT) AS share_ppm
    FROM clicks c CROSS JOIN tot t
    GROUP BY 1, t.n
    """,
    "Post-click next action — the funnel drop-off FORENSICS the "
    "stage counts can't answer: for every click, the user's very "
    "next event (within 1 hour; later -> 'timeout', none -> "
    "'session_end'), distributed over action types in exact ppm. "
    "A high click->view share means users bounce back to browsing "
    "(ranking problem); click->error flags a checkout defect; "
    "timeout/session_end is lost intent — each bucket points at a "
    "different owner, which is why this readout, not the funnel "
    "rate, drives the fix. One per-user lead window, one "
    "grid-sized aggregate.",
    ("sequence", "funnel", "events"),
)
def post_click_next_action(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ordered = e.select(
        "event_type",
        us.alias("us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead(us).over(w).alias("next_us"),
    )
    clicks = ordered.filter(F.col("event_type") == "click").select(
        F.when(F.col("next_type").isNull(), "session_end")
        .when(
            F.col("next_us") - F.col("us") > _PC_TIMEOUT_US, "timeout"
        )
        .otherwise(F.col("next_type"))
        .alias("next_action")
    )
    tot = clicks.agg(F.count("*").alias("n"))
    return (
        clicks.groupBy("next_action")
        .agg(F.count("*").alias("n_clicks"))
        .crossJoin(F.broadcast(tot))
        .select(
            "next_action",
            F.col("n_clicks").cast("long").alias("n_clicks"),
            F.expr("n_clicks * 1000000 div n").cast("long").alias(
                "share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Churn definition sweep: inactivity thresholds 7/14/30 days
# ---------------------------------------------------------------------------

_CHURN_DAYS = (7, 14, 30)


@_register(
    "churn_definition_sweep",
    f"""
    WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
    last_seen AS (
      SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM last_seen)
    {" UNION ALL ".join(
        f'''SELECT {d} AS inactivity_days, t.n_users,
           CAST(sum(CASE WHEN l.last_ts < w.mx - INTERVAL {d} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS churned,
           CAST(sum(CASE WHEN l.last_ts < w.mx - INTERVAL {d} DAY
                         THEN 1 ELSE 0 END) * 1000000 // t.n_users
                AS BIGINT) AS churn_ppm
        FROM last_seen l CROSS JOIN wm w CROSS JOIN tot t
        GROUP BY t.n_users'''
        for d in _CHURN_DAYS)}
    """,
    "Churn-definition sweep: the share of users inactive for "
    "7/14/30 days relative to the corpus watermark — three "
    "candidate operational definitions side by side, because the "
    "choice CHANGES the number the business tracks and the sweep "
    "shows how sensitive it is (a steep gradient means the "
    "definition is doing the work, not the users). Anchored to "
    "max event time for fixture reproducibility (production swaps "
    "now()); one user rollup, exact integer counts. The "
    "definition-selection companion to `dau_mau_stickiness` / "
    "`cohort_retention_events`.",
    ("bi", "churn", "events"),
)
def churn_definition_sweep(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    last_seen = e.groupBy("user_id").agg(
        F.max(F.col("ts").cast("timestamp")).alias("last_ts")
    ).localCheckpoint(eager=False)
    wm = last_seen.agg(F.max("last_ts").alias("mx"))
    tot = last_seen.agg(F.count("*").alias("n_users"))
    out = None
    for d in _CHURN_DAYS:
        one = (
            last_seen.crossJoin(F.broadcast(wm))
            .crossJoin(F.broadcast(tot))
            .agg(
                F.max("n_users").alias("n_users"),
                F.sum(
                    F.when(
                        F.col("last_ts")
                        < F.col("mx") - F.expr(f"INTERVAL {d} DAY"),
                        1,
                    ).otherwise(0)
                ).alias("churned"),
            )
            .select(
                F.lit(d).alias("inactivity_days"),
                F.col("n_users").cast("long").alias("n_users"),
                F.col("churned").cast("long").alias("churned"),
                F.expr("churned * 1000000 div n_users")
                .cast("long")
                .alias("churn_ppm"),
            )
        )
        out = one if out is None else out.unionAll(one)
    return out
