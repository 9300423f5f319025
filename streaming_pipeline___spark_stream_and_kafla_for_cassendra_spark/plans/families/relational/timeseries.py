"""Time-series queries: smoothing and forecasting recurrences, change
points, seasonality, replayed cache and rate-limit simulations.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....operators.joins import asof_join
from ...core import (
    _TB_CAP,
    _TB_TOKEN_US,
    _WF_CASE,
    _WF_STAGES,
    _WF_WINDOW_US,
    _r4,
    _r6,
    _register,
    _t,
)


@_register(
    "events_hourly_gapfill",
    """
    WITH grid AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
                                    TIMESTAMP '2024-01-05 23:00:00',
                                    INTERVAL 1 HOUR)) AS hour_start
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS cnt,
             round(avg(value), 4) AS avg_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
      GROUP BY 1
    )
    SELECT hour_start, coalesce(cnt, 0) AS n_events,
           last_value(avg_value IGNORE NULLS) OVER (ORDER BY hour_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
    FROM grid LEFT JOIN hourly ON h = hour_start
    """,
    "Time-series resample with gap fill: a generated dense hour grid "
    "(sequence + explode — no data scan) left-joins the sparse "
    "hourly aggregate; missing hours get 0 counts and forward-filled "
    "averages via last(ignoreNulls) — the hypertable 'time_bucket_"
    "gapfill + locf' shape",
    ("timeseries", "window", "events"),
)
def events_hourly_gapfill(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    day = (
        (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-06").cast("timestamp"))
    )
    hourly = (
        e.filter(day)
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )
    grid = e.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-05 00:00:00").cast("timestamp"),
                F.lit("2024-01-05 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour_start")
    )
    w = Window.orderBy("hour_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(hourly, hourly["h"] == grid["hour_start"], "left")
        .select(
            "hour_start",
            F.coalesce("cnt", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("filled_avg"),
        )
    )


@_register(
    "daily_new_vs_returning_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    first_seen AS (
      SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1
    ),
    active AS (
      SELECT day, CAST(count(*) AS BIGINT) AS active_users FROM ud GROUP BY 1
    ),
    news AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1
    )
    SELECT a.day, a.active_users,
           coalesce(n.new_users, 0) AS new_users,
           a.active_users - coalesce(n.new_users, 0) AS returning_users,
           CAST(sum(coalesce(n.new_users, 0)) OVER (
             ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_users
    FROM active a LEFT JOIN news n ON n.day = a.day
    """,
    "Growth accounting: per-day active/new/returning user counts plus "
    "cumulative distinct-users-to-date — the cumulative distinct is "
    "computed as a running sum of first-seen counts (pure integers, "
    "bit-exact) instead of a per-day COUNT(DISTINCT) over growing "
    "windows, turning an O(days × users) rescan into two user-keyed "
    "aggregates; the final window runs over #days rows, not data",
    ("window", "agg", "events", "timeseries"),
)
def daily_new_vs_returning_users(spark, sf_dir):
    # single spine: distinct (user, day) → per-user first-day flag via
    # one window → one per-day aggregate. The branchy formulation
    # (separate first_seen/active/news frames) re-scans and re-shuffles
    # the distinct frame three times; this shuffles it twice total
    # (dedup key, then user key) and the day-level window costs nothing.
    e = _t(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    wu = Window.partitionBy("user_id").orderBy("day")
    flagged = ud.withColumn(
        "is_new", (F.row_number().over(wu) == 1).cast("long")
    )
    daily = flagged.groupBy("day").agg(
        F.count("*").alias("active_users"),
        F.sum("is_new").alias("new_users"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).alias("cum_users"),
    )


@_register(
    "weekly_revenue_wow",
    """
    WITH wk AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             round(sum(o_totalprice), 4) AS revenue,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT week, revenue, n_orders,
           lag(revenue) OVER (ORDER BY week) AS prev_revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY week) IS NULL THEN NULL
                ELSE floor((revenue / lag(revenue) OVER (ORDER BY week) - 1)
                           * 1000000 + 0.5) / 1000000.0
           END AS wow_change
    FROM wk
    """,
    "Week-over-week revenue trend: weekly rollup (one fact-keyed "
    "aggregate) then lag() + percent change over the #weeks-sized "
    "series — the windowed part never touches fact rows. The change "
    "ratio divides the already-rounded weekly values so both engines "
    "divide identical doubles",
    ("window", "agg", "orders", "timeseries"),
)
def weekly_revenue_wow(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    ).agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    change = F.floor(
        (F.col("revenue") / prev - 1) * 1000000 + F.lit(0.5)
    ) / F.lit(1000000.0)
    return wk.select(
        "week",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(change)
        .alias("wow_change"),
    )


@_register(
    "ewma_user_value",
    """
    WITH seq AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals,
                             (acc, x) -> acc * 0.7::DOUBLE + x * 0.3::DOUBLE),
                 6) AS ewma_value
    FROM seq
    """,
    "Per-user exponentially-weighted moving average (alpha=0.3) of "
    "event values — a sequential recurrence expressed as an in-row "
    "left fold: collect_list sorted by (ts, event_id) then "
    "F.aggregate with acc*(1-a)+x*a, seeded from the first element. "
    "One shuffle (the groupBy), state lives inside the row, and the "
    "fold order is bit-identical to DuckDB's list_reduce so the "
    "doubles hash-match without tolerance. The pattern generalizes "
    "to any per-key scan/recurrence (compound interest, decay "
    "counters) that window functions cannot express",
    ("timeseries", "recurrence", "events"),
)
def ewma_user_value(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias(
            "seq"
        )
    )
    rest = F.slice(F.col("seq"), 2, F.greatest(F.size("seq") - 1, F.lit(0)))
    init = F.element_at(F.col("seq"), 1)["value"]
    ewma = F.aggregate(
        rest, init, lambda acc, x: acc * F.lit(0.7) + x["value"] * F.lit(0.3)
    )
    return seq.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


@_register(
    "interval_union_by_user",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts)
               + CAST(floor(value * 60.0) AS BIGINT) * 1000000 AS e
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island_id
      FROM marked
    ),
    isl AS (
      SELECT user_id, island_id, max(e) - min(s) AS covered
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(covered) AS BIGINT) AS covered_us
    FROM isl GROUP BY user_id
    """,
    "Sweep-line interval union per user: each event spans "
    "[ts, ts + value minutes]; overlapping spans merge into islands "
    "(running-max watermark + island counter, two window passes over "
    "ONE hash partitioning) and the union length sums max(end)-"
    "min(start) per island — overlap never double-counts. All "
    "arithmetic in integer microseconds (epoch_us), so the result "
    "is exact. The classic session-coverage / machine-utilization "
    "query that naive SUM(duration) gets wrong",
    ("timeseries", "window", "events"),
)
def interval_union_by_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value") * F.lit(60.0)).cast("long")
            * F.lit(1000000)
        ).alias("e"),
    )
    ordered = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "island_id",
        F.sum("new_island").over(
            ordered.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    isl = islands.groupBy("user_id", "island_id").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return isl.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("covered").alias("covered_us"),
    )


@_register(
    "holt_forecast_users",
    """
    WITH seq AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    ),
    folded AS (
      -- accumulator is a 2-list [level, trend], NOT a struct:
      -- DuckDB's struct_pack lambda rebinds acc fields name-wise as
      -- each field evaluates (let*-style), which corrupts any formula
      -- reading an already-written field; list literals evaluate all
      -- elements against the unmodified acc
      SELECT user_id, len(vals) AS n,
             list_reduce(
               list_transform(vals, x -> [x::DOUBLE, 0.0::DOUBLE]),
               (acc, x) -> [
                 0.5::DOUBLE * x[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
                 0.3::DOUBLE * ((0.5::DOUBLE * x[1]
                    + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
                   + 0.7::DOUBLE * acc[2]
               ]) AS st
      FROM seq
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2], 6) AS forecast_next
    FROM folded
    """,
    "Holt double-exponential smoothing per user (level+trend, "
    "α=0.5 β=0.3, b₀=0): a TWO-variable sequential recurrence as an "
    "in-row STRUCT fold — array_sort + F.aggregate with a (l, b) "
    "struct accumulator, the generalization of the scalar EWMA fold "
    "to coupled state. One shuffle; the fold's arithmetic is written "
    "in the identical op order as DuckDB's list_reduce so level, "
    "trend AND the one-step forecast hash-match bit-for-bit. This is "
    "the forecasting primitive the reference's dashboards lack",
    ("timeseries", "recurrence", "forecast", "events"),
)
def holt_forecast_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq")
    )
    rest = F.slice(F.col("seq"), 2, F.greatest(F.size("seq") - 1, F.lit(0)))
    init = F.struct(
        F.element_at(F.col("seq"), 1)["value"].alias("l"),
        F.lit(0.0).alias("b"),
    )

    def step(acc, x):
        lp = F.lit(0.5) * x["value"] + F.lit(0.5) * (acc["l"] + acc["b"])
        bp = F.lit(0.3) * (lp - acc["l"]) + F.lit(0.7) * acc["b"]
        return F.struct(lp.alias("l"), bp.alias("b"))

    st = F.aggregate(rest, init, step)
    return seq.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + st["b"], 6).alias("forecast_next"),
    )


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


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition of daily revenue
# ---------------------------------------------------------------------------

@_register(
    "stl_decompose_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    ma AS (
      SELECT day, rev,
             CAST(sum(rev) OVER w AS BIGINT) AS sum7,
             CAST(count(*) OVER w AS BIGINT) AS cnt7,
             CAST((CAST(day AS DATE) - DATE '1992-01-01') % 7 AS INTEGER) AS wd
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT *, CASE WHEN cnt7 = 7 THEN 7 * rev - sum7 END AS detr_s
      FROM ma
    ),
    seas AS (
      SELECT wd,
             CAST(sum(detr_s) AS BIGINT) / count(detr_s) AS seasonal_s
      FROM det WHERE detr_s IS NOT NULL GROUP BY wd
    )
    SELECT d.day AS day,
           d.rev AS rev_cents,
           CASE WHEN d.cnt7 = 7 THEN
             floor(d.sum7 / 7 * 10000 + 0.5) / 10000.0 END AS trend,
           floor(s.seasonal_s / 7 * 10000 + 0.5) / 10000.0 AS seasonal,
           CASE WHEN d.detr_s IS NOT NULL THEN
             floor((d.detr_s - s.seasonal_s) / 7 * 10000 + 0.5) / 10000.0
           END AS resid
    FROM det d JOIN seas s USING (wd)
    """,
    "STL-lite seasonal decomposition of the daily revenue series: "
    "trend = centered 7-row moving average, weekly seasonal = per-"
    "weekday mean of the detrended series, residual = remainder — "
    "computed entirely from EXACT integers (detrended values scaled "
    "by 7 stay integral: 7*rev - sum7), so every emitted double is "
    "one pinned IEEE expression on both engines. Plan: one fact-keyed "
    "rollup to a days-sized series; the centered-MA window, weekday "
    "aggregate (7 rows) and joins all run on days, never facts.",
    ("timeseries", "stl", "orders"),
)
def stl_decompose_daily_revenue(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "rev",
        F.sum("rev").over(w).alias("sum7"),
        F.count("*").over(w).alias("cnt7"),
        (F.datediff(F.col("day"), F.lit("1992-01-01").cast("date")) % 7)
        .cast("int")
        .alias("wd"),
    )
    det = ma.withColumn(
        "detr_s", F.when(F.col("cnt7") == 7, 7 * F.col("rev") - F.col("sum7"))
    )
    seas = (
        det.filter(F.col("detr_s").isNotNull())
        .groupBy("wd")
        .agg(
            (F.sum("detr_s") / F.count("detr_s")).alias("seasonal_s"),
        )
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return det.join(F.broadcast(seas), "wd").select(
        "day",
        F.col("rev").alias("rev_cents"),
        F.when(F.col("cnt7") == 7, r4(F.col("sum7") / 7)).alias("trend"),
        r4(F.col("seasonal_s") / 7).alias("seasonal"),
        F.when(
            F.col("detr_s").isNotNull(),
            r4((F.col("detr_s") - F.col("seasonal_s")) / 7),
        ).alias("resid"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast error (MAE / MASE) on daily revenue
# ---------------------------------------------------------------------------

@_register(
    "mase_seasonal_naive_daily",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT rev,
             lag(rev, 1) OVER (ORDER BY day) AS l1,
             lag(rev, 7) OVER (ORDER BY day) AS l7
      FROM daily
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(l7) AS BIGINT) AS n_eval7,
             CAST(sum(abs(rev - l1)) AS BIGINT) AS s1,
             CAST(count(l1) AS BIGINT) AS c1,
             CAST(sum(abs(rev - l7)) AS BIGINT) AS s7
      FROM lagged
    )
    SELECT n_days, n_eval7,
           floor(s1 / c1 * 10000 + 0.5) / 10000.0 AS mae_naive1_cents,
           floor(s7 / n_eval7 * 10000 + 0.5) / 10000.0 AS mae_seasonal7_cents,
           floor((s7 / n_eval7) / (s1 / c1) * 1000000 + 0.5) / 1000000.0
             AS mase
    FROM agg
    """,
    "Seasonal-naive forecast-error report: the lag-7 (weekly) naive "
    "forecast's MAE over the daily revenue series, scaled by the "
    "lag-1 naive MAE → MASE, the standard scale-free forecast "
    "baseline every model must beat. Lags are row-lags over the "
    "day-ordered days-sized series (single tiny window partition "
    "AFTER the fact-sized rollup); absolute errors are exact integer "
    "cents, so both ratios are pinned IEEE divisions of integers.",
    ("timeseries", "forecast", "orders"),
)
def mase_seasonal_naive_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("rev")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("l1"),
        F.lag("rev", 7).over(w).alias("l7"),
    )
    agg = lagged.agg(
        F.count("*").alias("n_days"),
        F.count("l7").alias("n_eval7"),
        F.sum(F.abs(F.col("rev") - F.col("l1"))).alias("s1"),
        F.count("l1").alias("c1"),
        F.sum(F.abs(F.col("rev") - F.col("l7"))).alias("s7"),
    )
    mae1 = F.col("s1") / F.col("c1")
    mae7 = F.col("s7") / F.col("n_eval7")
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_eval7").cast("long").alias("n_eval7"),
        _r4(mae1).alias("mae_naive1_cents"),
        _r4(mae7).alias("mae_seasonal7_cents"),
        _r6(mae7 / mae1).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Page–Hinkley sequential drift detection on the daily mean order value
# ---------------------------------------------------------------------------

_PH_DELTA_MICRO = 50_000_000  # tolerance: 50 cents, in micro-cents


@_register(
    "page_hinkley_drift_daily",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    x AS (
      SELECT day, CAST((s * 1000000) // n AS BIGINT) AS xq,
             row_number() OVER (ORDER BY day) AS t
      FROM daily
    ),
    run AS (
      SELECT day, xq, t,
             CAST(sum(xq) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) // t
                  AS BIGINT) AS xbar_q
      FROM x
    ),
    m AS (
      SELECT day, t,
             CAST(sum(xq - xbar_q - {_PH_DELTA_MICRO}) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS mt
      FROM run
    )
    SELECT day,
           CAST(t AS BIGINT) AS t,
           mt AS m_t_micro,
           CAST(mt - min(mt) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ph_t_micro
    FROM m
    """,
    "Page–Hinkley sequential changepoint statistic on the daily mean "
    "order value: m_t = Σ(x_i − x̄_i − δ) with x̄_i the running mean "
    "and PH_t = m_t − min m — the classic streaming drift detector "
    "(an upward mean shift sends PH_t past its alarm threshold), "
    "complementing the retrospective CUSUM operator. Every quantity "
    "lives in INTEGER micro-cents — per-day means and running means "
    "are floor divisions, the cumulative sums are integer window "
    "folds — so the result is exact regardless of either engine's "
    "window-aggregation tree order (DuckDB's segment-tree float "
    "summation would otherwise be a cross-engine hazard). Facts "
    "collapse once; everything after is days-sized.",
    ("timeseries", "drift", "orders"),
)
def page_hinkley_drift_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("s"), F.count("*").alias("n")
    )
    # micro-cent staging in decimal: s (daily cents) reaches ~9e13 at
    # sf100k, so s*1e6 would wrap int64; the div-n quotient itself is
    # per-order-scale and fits long comfortably
    x = daily.select(
        "day",
        F.floor(
            F.col("s").cast("decimal(25,0)")
            * F.lit(1000000).cast("decimal(7,0)")
            / F.col("n")
        )
        .cast("long")
        .alias("xq"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    run = x.select(
        "day",
        "xq",
        "t",
        F.expr(
            "sum(xq) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) div t"
        ).alias("xbar_q"),
    )
    m = run.select(
        "day",
        "t",
        F.sum(F.col("xq") - F.col("xbar_q") - F.lit(_PH_DELTA_MICRO))
        .over(cum)
        .alias("mt"),
    )
    return m.select(
        "day",
        F.col("t").cast("long").alias("t"),
        F.col("mt").cast("long").alias("m_t_micro"),
        (F.col("mt") - F.min("mt").over(cum)).cast("long").alias("ph_t_micro"),
    )


@_register(
    "seasonal_naive_mase_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT day, cents,
             lag(cents, 7) OVER (ORDER BY day) AS season_pred,
             lag(cents, 1) OVER (ORDER BY day) AS naive_pred
      FROM daily
    ),
    scored AS (
      SELECT CAST(count(*) AS BIGINT) AS n_eval_days,
             CAST(sum(abs(cents - season_pred)) AS BIGINT) AS sae_seasonal,
             CAST(sum(abs(cents - naive_pred)) AS BIGINT) AS sae_naive
      FROM lagged WHERE season_pred IS NOT NULL
    )
    SELECT n_eval_days, sae_seasonal, sae_naive,
           floor(sae_seasonal / CAST(sae_naive AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS mase
    FROM scored
    """,
    "Forecast-accuracy evaluation (MASE): the seasonal-naive "
    "forecast (value 7 days ago) scored against the one-step naive "
    "baseline on daily revenue — MASE < 1 means weekly seasonality "
    "carries real signal; the standard scale-free forecast metric, "
    "completing the time-series family (STL decomposition, EWMA, "
    "Bollinger, trend tests) with an EVALUATION operator. Absolute "
    "errors are exact integer cents summed over the days-sized "
    "rollup (constant-bounded lag window); one double division at "
    "the end",
    ("timeseries", "forecast", "evaluation", "events"),
)
def seasonal_naive_mase_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "cents",
        F.lag("cents", 7).over(w).alias("season_pred"),
        F.lag("cents", 1).over(w).alias("naive_pred"),
    ).filter(F.col("season_pred").isNotNull())
    scored = lagged.agg(
        F.count("*").alias("n_eval_days"),
        F.sum(F.abs(F.col("cents") - F.col("season_pred"))).alias(
            "sae_seasonal"
        ),
        F.sum(F.abs(F.col("cents") - F.col("naive_pred"))).alias("sae_naive"),
    )
    return scored.select(
        F.col("n_eval_days").cast("long").alias("n_eval_days"),
        F.col("sae_seasonal").cast("long").alias("sae_seasonal"),
        F.col("sae_naive").cast("long").alias("sae_naive"),
        _r6(
            F.col("sae_seasonal") / F.col("sae_naive").cast("double")
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand (per slow-moving part)
# ---------------------------------------------------------------------------

_CROSTON_ALPHA = 0.2


@_register(
    "croston_intermittent_demand",
    f"""
    WITH demand AS (
      SELECT l_partkey,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS DOUBLE)
               AS day,
             CAST(sum(l_quantity) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    seq AS (
      SELECT l_partkey,
             list([day, qty] ORDER BY day) AS vals
      FROM demand GROUP BY 1
      HAVING count(*) >= 3
    ),
    folded AS (
      -- acc is [z, p, prev_day, n_intervals]; items padded to the
      -- same arity so list_reduce's single element type holds both
      SELECT l_partkey, len(vals) AS n,
             list_reduce(
               list_prepend(
                 [vals[1][2], 0.0::DOUBLE, vals[1][1], 0.0::DOUBLE],
                 list_transform(vals[2:],
                                x -> [x[1], x[2], 0.0::DOUBLE,
                                      0.0::DOUBLE])),
               (acc, x) -> [
                 {_CROSTON_ALPHA}::DOUBLE * x[2]
                   + {1.0 - _CROSTON_ALPHA}::DOUBLE * acc[1],
                 CASE WHEN acc[4] = 0.0
                      THEN x[1] - acc[3]
                      ELSE {_CROSTON_ALPHA}::DOUBLE * (x[1] - acc[3])
                           + {1.0 - _CROSTON_ALPHA}::DOUBLE * acc[2]
                 END,
                 x[1],
                 acc[4] + 1.0::DOUBLE
               ]) AS st
      FROM seq
    )
    SELECT l_partkey, CAST(n AS BIGINT) AS n_demand_days,
           round(st[1], 6) AS croston_size,
           round(st[2], 6) AS croston_interval_days,
           round(st[1] / st[2], 6) AS forecast_per_day
    FROM folded
    """,
    "Croston's method for intermittent demand, the standard "
    "forecaster for slow-moving SKUs where plain EWMA under-"
    "forecasts between demand spikes: per part (>=3 demand days), "
    "separate exponential smoothing of demand SIZES and of inter-"
    "demand INTERVALS (alpha=0.2, first interval seeds the interval "
    "state), forecast = size/interval per day. A coupled 4-variable "
    "sequential recurrence as an in-row fold — array_sort + "
    "F.aggregate with a (z, p, prev_day, n) struct accumulator, "
    "DuckDB twin as a list-typed list_reduce in the identical "
    "arithmetic order, so all three outputs hash-match bit-for-bit. "
    "One shuffle on partkey; per-part arrays are bounded by the "
    "date range (~2,400), never by fact count. Extends the "
    "recurrence family of `holt_forecast_users` / `ewma_user_value` "
    "to the demand-planning shape.",
    ("timeseries", "recurrence", "forecast", "lineitem"),
)
def croston_intermittent_demand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        "l_partkey",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01"))
        .cast("double")
        .alias("day"),
    ).agg(F.sum("l_quantity").cast("double").alias("qty"))
    seq = (
        demand.groupBy("l_partkey")
        .agg(F.array_sort(F.collect_list(F.struct("day", "qty"))).alias("vals"))
        .filter(F.size("vals") >= 3)
    )
    first = F.element_at(F.col("vals"), 1)
    rest = F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0)))
    init = F.struct(
        first["qty"].alias("z"),
        F.lit(0.0).alias("p"),
        first["day"].alias("prev"),
        F.lit(0.0).alias("n"),
    )
    a = F.lit(_CROSTON_ALPHA)
    b = F.lit(1.0 - _CROSTON_ALPHA)

    def step(acc, x):
        interval = x["day"] - acc["prev"]
        zp = a * x["qty"] + b * acc["z"]
        pp = F.when(acc["n"] == 0.0, interval).otherwise(
            a * interval + b * acc["p"]
        )
        return F.struct(
            zp.alias("z"),
            pp.alias("p"),
            x["day"].alias("prev"),
            (acc["n"] + F.lit(1.0)).alias("n"),
        )

    st = F.aggregate(rest, init, step)
    return seq.select(
        "l_partkey",
        F.size("vals").cast("long").alias("n_demand_days"),
        F.round(st["z"], 6).alias("croston_size"),
        F.round(st["p"], 6).alias("croston_interval_days"),
        F.round(st["z"] / st["p"], 6).alias("forecast_per_day"),
    )


# ---------------------------------------------------------------------------
# Daily OHLC (candlestick) rollup of order prices
# ---------------------------------------------------------------------------

@_register(
    "ohlc_daily_orders",
    """
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(arg_min(CAST(floor(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS BIGINT) AS open_cents,
           CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS high_cents,
           CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS low_cents,
           CAST(arg_max(CAST(floor(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS BIGINT) AS close_cents,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS volume_cents
    FROM orders GROUP BY 1
    """,
    "Daily OHLC candlestick rollup of order prices: open/close via "
    "argmin/argmax on the unique order key (min_by/max_by — "
    "deterministic, no window, no sort), high/low/volume as plain "
    "min/max/sum, all in exact integer cents. One map-side-"
    "combinable aggregate keyed on day — min_by/max_by carry a "
    "(value, key) partial through the combiner, so the candlestick "
    "is a single shuffle at any scale where a first/last-by-window "
    "formulation would have sorted every partition. The price-"
    "series view that `bollinger_daily_revenue` / "
    "`max_drawdown_daily_revenue` band and locate.",
    ("agg", "timeseries", "orders"),
)
def ohlc_daily_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("n_orders"),
        F.min_by(cents, F.col("o_orderkey")).cast("long").alias("open_cents"),
        F.max(cents).cast("long").alias("high_cents"),
        F.min(cents).cast("long").alias("low_cents"),
        F.max_by(cents, F.col("o_orderkey")).cast("long").alias("close_cents"),
        F.sum(cents).cast("long").alias("volume_cents"),
    )


# ---------------------------------------------------------------------------
# Additive Holt–Winters (weekly seasonality) on daily revenue
# ---------------------------------------------------------------------------

_HW_A = 0.3   # level
_HW_B = 0.1   # trend
_HW_G = 0.3   # seasonal

# state vector: [l, b, s0..s6, wd_last]  (weekday 0=Sunday via
# (epoch_day + 4) % 7 — pure integer arithmetic, no engine-specific
# dayofweek convention)
_HW_CUR_SQL = "(" + " + ".join(
    f"CASE WHEN x[2] = {w}.0 THEN acc[{w + 3}] ELSE 0.0 END"
    for w in range(7)
) + ")"


def _hw_slot_sql(w):
    return (
        f"CASE WHEN x[2] = {w}.0 THEN {_HW_G}::DOUBLE * (x[1] - ("
        f"{_HW_A}::DOUBLE * (x[1] - {_HW_CUR_SQL}) "
        f"+ {1.0 - _HW_A}::DOUBLE * (acc[1] + acc[2]))) "
        f"+ {1.0 - _HW_G}::DOUBLE * acc[{w + 3}] "
        f"ELSE acc[{w + 3}] END"
    )


@_register(
    "holt_winters_daily_revenue",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)
               AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT list([rev, CAST((CAST(day AS BIGINT) + 4) % 7 AS DOUBLE)]
                  ORDER BY day) AS vals,
             count(*) AS n
      FROM daily
    ),
    folded AS (
      SELECT n,
             list_reduce(
               list_prepend(
                 [vals[1][1], 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
                  0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
                  0.0::DOUBLE, vals[1][2]],
                 list_transform(vals[2:],
                                x -> [x[1], x[2], 0.0::DOUBLE, 0.0::DOUBLE,
                                      0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
                                      0.0::DOUBLE, 0.0::DOUBLE,
                                      0.0::DOUBLE])),
               (acc, x) -> [
                 {_HW_A}::DOUBLE * (x[1] - {_HW_CUR_SQL})
                   + {1.0 - _HW_A}::DOUBLE * (acc[1] + acc[2]),
                 {_HW_B}::DOUBLE * (({_HW_A}::DOUBLE * (x[1] - {_HW_CUR_SQL})
                     + {1.0 - _HW_A}::DOUBLE * (acc[1] + acc[2])) - acc[1])
                   + {1.0 - _HW_B}::DOUBLE * acc[2],
                 {_hw_slot_sql(0)},
                 {_hw_slot_sql(1)},
                 {_hw_slot_sql(2)},
                 {_hw_slot_sql(3)},
                 {_hw_slot_sql(4)},
                 {_hw_slot_sql(5)},
                 {_hw_slot_sql(6)},
                 x[2]
               ]) AS st
      FROM seq
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(st[1], 4) AS level_cents,
           round(st[2], 4) AS trend_cents,
           {", ".join(f"round(st[{w + 3}], 4) AS s{w}" for w in range(7))},
           round(st[1] + st[2]
                 + ({" + ".join(
                       f"CASE WHEN CAST(st[10] AS BIGINT) % 7 = {(w + 6) % 7}"
                       f" THEN st[{w + 3}] ELSE 0.0 END"
                       for w in range(7))}),
                 4) AS forecast_next_day
    FROM folded
    """,
    "Additive Holt–Winters (level + trend + weekly seasonality, "
    "alpha=0.3 beta=0.1 gamma=0.3, zero-initialized seasonals, "
    "l0 = first observation) over the daily-revenue series: a "
    "TEN-variable coupled recurrence — the seasonal slot is keyed by "
    "weekday computed as (epoch_day+4)%7 so both engines share one "
    "convention and calendar gaps cannot misalign the cycle — run as "
    "an in-row fold on the days-sized rollup. Spark F.aggregate with "
    "a 10-field struct accumulator; DuckDB twin is a 10-list "
    "list_reduce GENERATED from the same Python constants in the "
    "identical arithmetic order, so level, trend, all seven "
    "seasonals AND the one-step-ahead forecast hash-match. Completes "
    "the forecasting ladder: EWMA (1 state) -> Holt (2) -> Croston "
    "(4, event-paced) -> Holt-Winters (10, seasonal).",
    ("timeseries", "recurrence", "forecast", "orders"),
)
def holt_winters_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("double")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("double")
        .alias("rev")
    )
    seq = daily.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("day").alias("day"),
                    F.col("rev").alias("y"),
                    ((F.col("day").cast("long") + 4) % 7)
                    .cast("double")
                    .alias("wd"),
                )
            )
        ).alias("vals"),
        F.count("*").alias("n"),
    )
    first = F.element_at(F.col("vals"), 1)
    rest = F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0)))
    init = F.struct(
        first["y"].alias("l"),
        F.lit(0.0).alias("b"),
        *[F.lit(0.0).alias(f"s{w}") for w in range(7)],
        first["wd"].alias("wd"),
    )
    a, ac = F.lit(_HW_A), F.lit(1.0 - _HW_A)
    bb, bc = F.lit(_HW_B), F.lit(1.0 - _HW_B)
    g, gc = F.lit(_HW_G), F.lit(1.0 - _HW_G)

    def cur_of(acc, x):
        expr = F.when(x["wd"] == 0.0, acc["s0"])
        for w in range(1, 7):
            expr = expr.when(x["wd"] == float(w), acc[f"s{w}"])
        return expr.otherwise(F.lit(0.0))

    def step(acc, x):
        # mirror the SQL exactly: cur/lp are re-derived inline per
        # slot in DuckDB, but the arithmetic per term is identical,
        # so computing them once here produces the same doubles
        cur = cur_of(acc, x)
        lp = a * (x["y"] - cur) + ac * (acc["l"] + acc["b"])
        bp = bb * (lp - acc["l"]) + bc * acc["b"]
        snew = g * (x["y"] - lp) + gc * cur
        slots = [
            F.when(x["wd"] == float(w), snew)
            .otherwise(acc[f"s{w}"])
            .alias(f"s{w}")
            for w in range(7)
        ]
        return F.struct(
            lp.alias("l"), bp.alias("b"), *slots, x["wd"].alias("wd")
        )

    st = F.aggregate(rest, init, step)
    nxt = F.when((st["wd"].cast("long") % 7) == 6, st["s0"])
    for w in range(7):
        if (w + 6) % 7 != 6:
            nxt = nxt.when(
                (st["wd"].cast("long") % 7) == (w + 6) % 7, st[f"s{w}"]
            )
    return seq.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(st["l"], 4).alias("level_cents"),
        F.round(st["b"], 4).alias("trend_cents"),
        *[F.round(st[f"s{w}"], 4).alias(f"s{w}") for w in range(7)],
        F.round(st["l"] + st["b"] + nxt, 4).alias("forecast_next_day"),
    )


# ---------------------------------------------------------------------------
# LRU cache hit-rate simulation (cache size 4) per customer segment
# ---------------------------------------------------------------------------

# acc = [c1, c2, c3, c4, hits] with -1 as the empty-slot sentinel;
# the move-to-front update is generated as scalar CASEs from the hit
# position so both engines state identical arithmetic
_LRU_POS = (
    "(CASE WHEN acc[1] = x[1] THEN 1 WHEN acc[2] = x[1] THEN 2 "
    "WHEN acc[3] = x[1] THEN 3 WHEN acc[4] = x[1] THEN 4 ELSE 0 END)"
)


def _lru_step_sql() -> str:
    return f"""[
                 x[1],
                 CASE WHEN {_LRU_POS} = 1 THEN acc[2] ELSE acc[1] END,
                 CASE WHEN {_LRU_POS} IN (1, 2) THEN acc[3]
                      ELSE acc[2] END,
                 CASE WHEN {_LRU_POS} IN (1, 2, 3) THEN acc[4]
                      ELSE acc[3] END,
                 acc[5] + CASE WHEN {_LRU_POS} >= 1 THEN 1 ELSE 0 END
               ]"""


@_register(
    "lru_cache_hit_rate",
    f"""
    WITH acc_seq AS (
      SELECT o.o_custkey,
             -- l_partkey as the last key: the fixture carries
             -- duplicate (orderkey, linenumber) pairs, so the
             -- 3-key order is ambiguous
             list(l.l_partkey ORDER BY o.o_orderdate, o.o_orderkey,
                  l.l_linenumber, l.l_partkey) AS parts
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
      HAVING count(*) >= 2
    ),
    folded AS (
      SELECT o_custkey, len(parts) AS n_acc,
             list_reduce(
               list_prepend([CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                             CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                             CAST(0 AS BIGINT)],
                 list_transform(parts, p -> [p, CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT)])),
               (acc, x) -> {_lru_step_sql()}) AS st
      FROM acc_seq
    ),
    seg AS (
      SELECT c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(f.n_acc) AS BIGINT) AS n_accesses,
             CAST(sum(f.st[5]) AS BIGINT) AS n_hits
      FROM folded f JOIN customer c ON c.c_custkey = f.o_custkey
      GROUP BY 1
    )
    SELECT segment, n_customers, n_accesses, n_hits,
           CAST(n_hits * 1000000 // n_accesses AS BIGINT) AS hit_ppm
    FROM seg
    """,
    "LRU cache simulation — the serving-tier capacity question "
    "('would a 4-entry per-customer part cache absorb repeat "
    "accesses?') answered exactly: each customer's chronological "
    "part-access sequence folds through a size-4 LRU with "
    "move-to-front/evict-last semantics encoded as scalar CASEs on "
    "the hit position (pure integers, bit-deterministic, and "
    "freeze-free per the DuckDB list_reduce CASE pitfall), then "
    "hit counts roll up per market segment in ppm. One shuffle on "
    "custkey with per-customer arrays bounded by customer "
    "activity; the temporal-locality companion to "
    "`customer_order_intervals` (recency gaps).",
    ("systems", "cache", "recurrence", "lineitem"),
)
def lru_cache_hit_rate(spark, sf_dir):
    # NOT spread (r9 interleaved A/B: ~0.2-0.4 s slower with a round-
    # robin pre-exchange on the lineitem side — the collect_list
    # partials already parallelize after the join's keyed exchange)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    seq = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("o_orderdate", "o_orderkey", "l_linenumber",
                             "l_partkey")
                )
            ).alias("seq"),
            F.count("*").alias("n_acc"),
        )
        .filter(F.col("n_acc") >= 2)
    )
    parts = F.transform(F.col("seq"), lambda x: x["l_partkey"])
    init = F.struct(
        F.lit(-1).cast("long").alias("c1"),
        F.lit(-1).cast("long").alias("c2"),
        F.lit(-1).cast("long").alias("c3"),
        F.lit(-1).cast("long").alias("c4"),
        F.lit(0).cast("long").alias("hits"),
    )

    def step(acc, p):
        pos = (
            F.when(acc["c1"] == p, 1)
            .when(acc["c2"] == p, 2)
            .when(acc["c3"] == p, 3)
            .when(acc["c4"] == p, 4)
            .otherwise(0)
        )
        return F.struct(
            p.alias("c1"),
            F.when(pos == 1, acc["c2"]).otherwise(acc["c1"]).alias("c2"),
            F.when(pos.isin(1, 2), acc["c3"]).otherwise(acc["c2"]).alias(
                "c3"
            ),
            F.when(pos.isin(1, 2, 3), acc["c4"]).otherwise(acc["c3"]).alias(
                "c4"
            ),
            (acc["hits"] + F.when(pos >= 1, 1).otherwise(0)).alias("hits"),
        )

    folded = seq.select(
        "o_custkey",
        "n_acc",
        F.aggregate(parts, init, step)["hits"].alias("hits"),
    )
    segd = (
        folded.join(c, folded.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_acc").alias("n_accesses"),
            F.sum("hits").alias("n_hits"),
        )
    )
    return segd.select(
        "segment",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("n_accesses").cast("long").alias("n_accesses"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr("n_hits * 1000000 div n_accesses").cast("long").alias(
            "hit_ppm"
        ),
    )


@_register(
    "rate_limiter_token_bucket",
    f"""
    WITH arrivals AS (
      SELECT user_id,
             list(epoch_us(CAST(ts AS TIMESTAMP))
                  ORDER BY ts, event_id) AS ts_us
      FROM events GROUP BY user_id
    ),
    folded AS (
      -- acc = [balance_us, prev_ts, accepted, rejected]; balance is
      -- token credit in MICROSECONDS (1 token = {_TB_TOKEN_US} us,
      -- cap {_TB_CAP} tokens) so the whole simulation is integer
      SELECT user_id, len(ts_us) AS n,
             list_reduce(
               list_prepend([CAST({_TB_CAP * _TB_TOKEN_US} AS BIGINT),
                             ts_us[1], CAST(0 AS BIGINT),
                             CAST(0 AS BIGINT)],
                 list_transform(ts_us, t -> [t, CAST(0 AS BIGINT),
                                             CAST(0 AS BIGINT),
                                             CAST(0 AS BIGINT)])),
               (acc, x) -> [
                 CASE WHEN least(acc[1] + (x[1] - acc[2]),
                                 {_TB_CAP * _TB_TOKEN_US})
                           >= {_TB_TOKEN_US}
                      THEN least(acc[1] + (x[1] - acc[2]),
                                 {_TB_CAP * _TB_TOKEN_US})
                           - {_TB_TOKEN_US}
                      ELSE least(acc[1] + (x[1] - acc[2]),
                                 {_TB_CAP * _TB_TOKEN_US}) END,
                 x[1],
                 acc[3] + CASE WHEN least(acc[1] + (x[1] - acc[2]),
                                          {_TB_CAP * _TB_TOKEN_US})
                                    >= {_TB_TOKEN_US}
                               THEN 1 ELSE 0 END,
                 acc[4] + CASE WHEN least(acc[1] + (x[1] - acc[2]),
                                          {_TB_CAP * _TB_TOKEN_US})
                                    >= {_TB_TOKEN_US}
                               THEN 0 ELSE 1 END
               ]) AS st
      FROM arrivals
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(st[3]) AS BIGINT) AS accepted,
           CAST(sum(st[4]) AS BIGINT) AS rejected,
           CAST(sum(st[4]) * 1000000 // sum(n) AS BIGINT)
             AS rejected_ppm,
           CAST(sum(CASE WHEN st[4] > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS users_throttled
    FROM folded
    """,
    f"Token-bucket rate limiter simulation (capacity {_TB_CAP} "
    "tokens, one token per minute, per-user buckets) replayed over "
    "the real event arrivals — the capacity-planning question 'how "
    "many requests would this policy have throttled' answered "
    "exactly before the gateway config ships: balances are token-"
    "credit in integer MICROSECONDS (refill = elapsed time, spend "
    "= one token's worth), the whole fold is integer min/compare "
    "arithmetic, bit-identical across engines. First event "
    "initializes a full bucket with prev = its own timestamp "
    "(zero elapsed). One shuffle on user_id; the burst-tolerance "
    "companion to `watermark_delay_audit_events` (which sizes "
    "lateness tolerance the same replay way).",
    ("systems", "rate-limit", "recurrence", "events"),
)
def rate_limiter_token_bucket(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    arrivals = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "ts",
                    "event_id",
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
                )
            )
        ).alias("seq")
    )
    ts_us = F.transform(F.col("seq"), lambda x: x["us"])
    cap = _TB_CAP * _TB_TOKEN_US
    init = F.struct(
        F.lit(cap).cast("long").alias("bal"),
        F.element_at(ts_us, 1).alias("prev"),
        F.lit(0).cast("long").alias("acc_n"),
        F.lit(0).cast("long").alias("rej_n"),
    )

    def step(acc, t):
        refilled = F.least(
            acc["bal"] + (t - acc["prev"]), F.lit(cap).cast("long")
        )
        ok = refilled >= _TB_TOKEN_US
        return F.struct(
            F.when(ok, refilled - _TB_TOKEN_US)
            .otherwise(refilled)
            .alias("bal"),
            t.alias("prev"),
            (acc["acc_n"] + F.when(ok, 1).otherwise(0)).alias("acc_n"),
            (acc["rej_n"] + F.when(ok, 0).otherwise(1)).alias("rej_n"),
        )

    st = F.aggregate(ts_us, init, step)
    folded = arrivals.select(
        F.size("seq").alias("n"),
        st["acc_n"].alias("acc_n"),
        st["rej_n"].alias("rej_n"),
    )
    return folded.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("acc_n").cast("long").alias("accepted"),
        F.sum("rej_n").cast("long").alias("rejected"),
        F.expr("CAST(sum(rej_n) * 1000000 div sum(n) AS BIGINT)").alias(
            "rejected_ppm"
        ),
        F.sum(F.when(F.col("rej_n") > 0, 1).otherwise(0))
        .cast("long")
        .alias("users_throttled"),
    )


@_register(
    "window_funnel_users",
    f"""
    WITH coded AS (
      SELECT user_id,
             list([CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT),
                   CAST({_WF_CASE} AS BIGINT)]
                  ORDER BY ts, event_id) AS xs
      FROM events
      WHERE {_WF_CASE} > 0
      GROUP BY user_id
    ),
    folded AS (
      -- acc = [stage, funnel_start_us, best]; the funnel restarts on
      -- every stage-1 event (ClickHouse windowFunnel semantics),
      -- advances only on the NEXT stage inside the window, and
      -- remembers the best depth ever reached
      SELECT user_id,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                             CAST(0 AS BIGINT)], xs),
               (acc, x) -> [
                 CASE WHEN x[2] = 1 THEN 1
                      WHEN x[2] = acc[1] + 1
                           AND acc[1] >= 1
                           AND x[1] - acc[2] <= {_WF_WINDOW_US}
                      THEN acc[1] + 1
                      ELSE acc[1] END,
                 CASE WHEN x[2] = 1 THEN x[1] ELSE acc[2] END,
                 greatest(acc[3],
                   CASE WHEN x[2] = 1 THEN 1
                        WHEN x[2] = acc[1] + 1
                             AND acc[1] >= 1
                             AND x[1] - acc[2] <= {_WF_WINDOW_US}
                        THEN acc[1] + 1
                        ELSE acc[1] END)
               ]) AS st
      FROM coded
    )
    SELECT CAST(st[3] AS INTEGER) AS max_stage,
           CAST(count(*) AS BIGINT) AS n_users
    FROM folded GROUP BY 1
    """,
    "windowFunnel (the ClickHouse sequence primitive): per user, "
    "the deepest view->click->purchase chain completed with every "
    "step inside 24h OF THE FUNNEL START, folding the coded event "
    "sequence with a [stage, start, best] integer state — restart "
    "on every stage-1 event, advance only on the exact next stage "
    "in-window, remember the best depth (so a later full funnel "
    "beats an early partial one). Pure integer microsecond "
    "arithmetic, bit-identical across engines. The time-constrained "
    "strictly-ordered cousin of `funnel_view_click_purchase` "
    "(lifetime stage counts) and `match_recognize_funnel_users` "
    "(pattern syntax): three operators, three funnel semantics, "
    "all exact. One shuffle on user_id.",
    ("sequence", "funnel", "recurrence", "events"),
)
def window_funnel_users(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    code = F.when(F.col("event_type") == _WF_STAGES[0], 1)
    for i, t in enumerate(_WF_STAGES[1:], start=2):
        code = code.when(F.col("event_type") == t, i)
    code = code.otherwise(0)
    coded = (
        e.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            code.cast("long").alias("stage"),
        )
        .filter(F.col("stage") > 0)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("us", "event_id", "stage"))
            ).alias("xs")
        )
    )
    init = F.struct(
        F.lit(0).cast("long").alias("stage"),
        F.lit(0).cast("long").alias("start"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        advanced = (
            (x["stage"] == acc["stage"] + 1)
            & (acc["stage"] >= 1)
            & (x["us"] - acc["start"] <= _WF_WINDOW_US)
        )
        new_stage = (
            F.when(x["stage"] == 1, F.lit(1).cast("long"))
            .when(advanced, acc["stage"] + 1)
            .otherwise(acc["stage"])
        )
        return F.struct(
            new_stage.alias("stage"),
            F.when(x["stage"] == 1, x["us"])
            .otherwise(acc["start"])
            .alias("start"),
            F.greatest(acc["best"], new_stage).alias("best"),
        )

    folded = coded.select(
        F.aggregate(F.col("xs"), init, step)["best"].alias("max_stage")
    )
    return folded.groupBy(F.col("max_stage").cast("int").alias("max_stage")).agg(
        F.count("*").alias("n_users")
    )


# ---------------------------------------------------------------------------
# (s,S) inventory policy replay over per-part daily demand
# ---------------------------------------------------------------------------

_INV_LITTLE_S = 20
_INV_BIG_S = 100


@_register(
    "inventory_ss_policy_replay",
    f"""
    WITH demand AS (
      SELECT l_partkey,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    seq AS (
      SELECT l_partkey, list([day, qty] ORDER BY day) AS xs,
             CAST(count(*) AS BIGINT) AS n_days
      FROM demand GROUP BY 1
      HAVING count(*) >= 5
    ),
    folded AS (
      -- acc = [on_hand, reorders, stockout_units]; start full at S;
      -- demand draws down, unmet demand is lost (counted), and any
      -- position < s triggers an order-up-to-S (zero lead time,
      -- applied after the day's demand)
      SELECT l_partkey, n_days,
             list_reduce(
               list_prepend([CAST({_INV_BIG_S} AS BIGINT),
                             CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                 xs),
               (acc, x) -> [
                 CASE WHEN greatest(acc[1] - x[2], 0) < {_INV_LITTLE_S}
                      THEN {_INV_BIG_S}
                      ELSE greatest(acc[1] - x[2], 0) END,
                 acc[2] + CASE WHEN greatest(acc[1] - x[2], 0)
                                    < {_INV_LITTLE_S}
                               THEN 1 ELSE 0 END,
                 acc[3] + greatest(x[2] - acc[1], 0)
               ]) AS st
      FROM seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(n_days) AS BIGINT) AS n_demand_days,
           CAST(sum(st[2]) AS BIGINT) AS total_reorders,
           CAST(sum(st[3]) AS BIGINT) AS total_stockout_units,
           CAST(sum(CASE WHEN st[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS parts_with_stockouts
    FROM folded
    """,
    f"(s,S) inventory policy replay (s={_INV_LITTLE_S}, "
    f"S={_INV_BIG_S}, zero lead time, lost sales): each part's "
    "daily demand sequence folds through the classic min-max "
    "restock rule — draw down, count unmet units, reorder up to S "
    "whenever the position crosses s — in pure integers, so the "
    "corpus report (reorder events, stockout units, parts that "
    "ever stocked out) is bit-exact. The policy-evaluation "
    "companion to `croston_intermittent_demand`: Croston FORECASTS "
    "the sparse demand, this measures what a concrete stocking "
    "rule would have done against the realized demand. One shuffle "
    "on partkey; per-part arrays bounded by the date range.",
    ("supply-chain", "simulation", "recurrence", "lineitem"),
)
def inventory_ss_policy_replay(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        "l_partkey",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    seq = (
        demand.groupBy("l_partkey")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "qty"))).alias("xs"),
            F.count("*").alias("n_days"),
        )
        .filter(F.col("n_days") >= 5)
    )
    init = F.struct(
        F.lit(_INV_BIG_S).cast("long").alias("oh"),
        F.lit(0).cast("long").alias("ro"),
        F.lit(0).cast("long").alias("so"),
    )

    def step(acc, x):
        after = F.greatest(acc["oh"] - x["qty"], F.lit(0).cast("long"))
        trigger = after < _INV_LITTLE_S
        return F.struct(
            F.when(trigger, F.lit(_INV_BIG_S).cast("long"))
            .otherwise(after)
            .alias("oh"),
            (acc["ro"] + F.when(trigger, 1).otherwise(0)).alias("ro"),
            (
                acc["so"]
                + F.greatest(x["qty"] - acc["oh"], F.lit(0).cast("long"))
            ).alias("so"),
        )

    folded = seq.select(
        "n_days",
        F.aggregate(F.col("xs"), init, step).alias("st"),
    )
    return folded.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("n_days").cast("long").alias("n_demand_days"),
        F.sum(F.col("st.ro")).cast("long").alias("total_reorders"),
        F.sum(F.col("st.so")).cast("long").alias("total_stockout_units"),
        F.sum(F.when(F.col("st.so") > 0, 1).otherwise(0))
        .cast("long")
        .alias("parts_with_stockouts"),
    )


# ---------------------------------------------------------------------------
# LFU cache hit-rate simulation (size 4) per customer segment
# ---------------------------------------------------------------------------

# acc = [p1, f1, p2, f2, p3, f3, p4, f4, hits]; -1 = empty slot.
# Hit: bump that slot's frequency. Miss: replace the slot with the
# minimum frequency (ties -> LOWEST slot index, which is also the
# longest-resident under this update rule) with (p, 1).
_LFU_HITPOS = (
    "(CASE WHEN acc[1] = x[1] THEN 1 WHEN acc[3] = x[1] THEN 2 "
    "WHEN acc[5] = x[1] THEN 3 WHEN acc[7] = x[1] THEN 4 ELSE 0 END)"
)
# victim slot on miss: first slot holding min(f1..f4); empty slots
# carry f = -1 so they are always chosen first
_LFU_MINF = "least(acc[2], acc[4], acc[6], acc[8])"
_LFU_VICTIM = (
    f"(CASE WHEN acc[2] = {_LFU_MINF} THEN 1 "
    f"WHEN acc[4] = {_LFU_MINF} THEN 2 "
    f"WHEN acc[6] = {_LFU_MINF} THEN 3 ELSE 4 END)"
)


def _lfu_slot_sql(s: int) -> str:
    p, f = 2 * s - 1, 2 * s
    return f"""
                 CASE WHEN {_LFU_HITPOS} = {s} THEN acc[{p}]
                      WHEN {_LFU_HITPOS} = 0 AND {_LFU_VICTIM} = {s}
                      THEN x[1] ELSE acc[{p}] END,
                 CASE WHEN {_LFU_HITPOS} = {s} THEN acc[{f}] + 1
                      WHEN {_LFU_HITPOS} = 0 AND {_LFU_VICTIM} = {s}
                      THEN 1 ELSE acc[{f}] END"""


@_register(
    "lfu_cache_hit_rate",
    f"""
    WITH acc_seq AS (
      SELECT o.o_custkey,
             list(l.l_partkey ORDER BY o.o_orderdate, o.o_orderkey,
                  l.l_linenumber, l.l_partkey) AS parts
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
      HAVING count(*) >= 2
    ),
    folded AS (
      SELECT o_custkey, len(parts) AS n_acc,
             list_reduce(
               list_prepend([CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                             CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                             CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                             CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                             CAST(0 AS BIGINT)],
                 list_transform(parts, p -> [p, CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT)])),
               (acc, x) -> [
                 {",".join(_lfu_slot_sql(s) for s in (1, 2, 3, 4))},
                 acc[9] + CASE WHEN {_LFU_HITPOS} >= 1 THEN 1 ELSE 0 END
               ]) AS st
      FROM acc_seq
    ),
    seg AS (
      SELECT c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(f.n_acc) AS BIGINT) AS n_accesses,
             CAST(sum(f.st[9]) AS BIGINT) AS n_hits
      FROM folded f JOIN customer c ON c.c_custkey = f.o_custkey
      GROUP BY 1
    )
    SELECT segment, n_customers, n_accesses, n_hits,
           CAST(n_hits * 1000000 // n_accesses AS BIGINT) AS hit_ppm
    FROM seg
    """,
    "LFU cache simulation over the identical per-customer access "
    "sequences as `lru_cache_hit_rate` — the policy A/B every cache "
    "tier ends up running: 4 slots carrying (item, frequency) "
    "pairs, hits bump the slot frequency, misses evict the minimum-"
    "frequency slot (empty slots carry f=-1 so they fill first; "
    "ties break to the lowest slot index — fully pinned, pure "
    "integers). Recency-favoring workloads beat LFU with LRU and "
    "frequency-skewed ones invert it, and because both policies "
    "replay the same sequences the ppm columns are directly "
    "comparable. Same custkey shuffle and segment rollup.",
    ("systems", "cache", "recurrence", "lineitem"),
)
def lfu_cache_hit_rate(spark, sf_dir):
    # NOT spread (r9 interleaved A/B: ~0.2-0.4 s slower with a round-
    # robin pre-exchange on the lineitem side — the collect_list
    # partials already parallelize after the join's keyed exchange)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    seq = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "o_orderdate", "o_orderkey", "l_linenumber",
                        "l_partkey",
                    )
                )
            ).alias("seq"),
            F.count("*").alias("n_acc"),
        )
        .filter(F.col("n_acc") >= 2)
    )
    parts = F.transform(F.col("seq"), lambda x: x["l_partkey"])
    init = F.struct(
        *[
            col
            for s in (1, 2, 3, 4)
            for col in (
                F.lit(-1).cast("long").alias(f"p{s}"),
                F.lit(-1).cast("long").alias(f"f{s}"),
            )
        ],
        F.lit(0).cast("long").alias("hits"),
    )

    def step(acc, p):
        hitpos = (
            F.when(acc["p1"] == p, 1)
            .when(acc["p2"] == p, 2)
            .when(acc["p3"] == p, 3)
            .when(acc["p4"] == p, 4)
            .otherwise(0)
        )
        minf = F.least(acc["f1"], acc["f2"], acc["f3"], acc["f4"])
        victim = (
            F.when(acc["f1"] == minf, 1)
            .when(acc["f2"] == minf, 2)
            .when(acc["f3"] == minf, 3)
            .otherwise(4)
        )
        fields = []
        for s in (1, 2, 3, 4):
            fields.append(
                F.when(hitpos == s, acc[f"p{s}"])
                .when((hitpos == 0) & (victim == s), p)
                .otherwise(acc[f"p{s}"])
                .alias(f"p{s}")
            )
            fields.append(
                F.when(hitpos == s, acc[f"f{s}"] + 1)
                .when((hitpos == 0) & (victim == s), F.lit(1).cast("long"))
                .otherwise(acc[f"f{s}"])
                .alias(f"f{s}")
            )
        fields.append(
            (acc["hits"] + F.when(hitpos >= 1, 1).otherwise(0)).alias("hits")
        )
        return F.struct(*fields)

    folded = seq.select(
        "o_custkey",
        "n_acc",
        F.aggregate(parts, init, step)["hits"].alias("hits"),
    )
    segd = (
        folded.join(c, folded.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_acc").alias("n_accesses"),
            F.sum("hits").alias("n_hits"),
        )
    )
    return segd.select(
        "segment",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("n_accesses").cast("long").alias("n_accesses"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr("n_hits * 1000000 div n_accesses").cast("long").alias(
            "hit_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling percentile rank of daily revenue vs the trailing 90 days
# ---------------------------------------------------------------------------

_RPR_WINDOW = 90


@_register(
    "rolling_percentile_rank_daily",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, rev, row_number() OVER (ORDER BY day) AS i FROM daily
    ),
    ranked AS (
      SELECT a.day, a.rev,
             CAST(count(*) AS BIGINT) AS window_n,
             CAST(sum(CASE WHEN b.rev <= a.rev THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_below_eq
      FROM idx a JOIN idx b
        ON b.i BETWEEN a.i - {_RPR_WINDOW - 1} AND a.i
      GROUP BY 1, 2
      HAVING count(*) = {_RPR_WINDOW}
    )
    SELECT day, rev, window_n, n_below_eq,
           CAST(n_below_eq * 1000000 // window_n AS BIGINT)
             AS percentile_ppm,
           n_below_eq = window_n AS is_window_max
    FROM ranked
    """,
    f"Rolling empirical percentile rank: each day's revenue scored "
    f"against its trailing {_RPR_WINDOW} observed days (count of "
    "window days at-or-below, in ppm — exact integers, no "
    "interpolation) with a window-maximum flag. This is the "
    "'unusually high vs the trailing quarter' detector dashboards "
    "actually want — percentile-calibrated, unlike "
    "`mad_outlier_events`' fixed-threshold z-scores; the banded "
    "self-join on row index is days x 90 at any fact scale. "
    "Partial leading windows are excluded (exactly 90-day windows "
    "only) so every percentile has the same denominator.",
    ("timeseries", "anomaly", "window", "orders"),
)
def rolling_percentile_rank_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    idx = daily.select(
        "day", "rev", F.row_number().over(Window.orderBy("day")).alias("i")
    ).localCheckpoint(eager=False)
    a = idx.select(
        F.col("day").alias("day"), F.col("rev").alias("rev"), F.col("i").alias("ia")
    )
    b = idx.select(F.col("rev").alias("rb"), F.col("i").alias("ib"))
    ranked = (
        a.join(
            b,
            F.col("ib").between(F.col("ia") - (_RPR_WINDOW - 1), F.col("ia")),
        )
        .groupBy("day", "rev")
        .agg(
            F.count("*").alias("window_n"),
            F.sum(
                F.when(F.col("rb") <= F.col("rev"), 1).otherwise(0)
            ).alias("n_below_eq"),
        )
        .filter(F.col("window_n") == _RPR_WINDOW)
    )
    return ranked.select(
        "day",
        "rev",
        F.col("window_n").cast("long").alias("window_n"),
        F.col("n_below_eq").cast("long").alias("n_below_eq"),
        F.expr("n_below_eq * 1000000 div window_n").cast("long").alias(
            "percentile_ppm"
        ),
        (F.col("n_below_eq") == F.col("window_n")).alias("is_window_max"),
    )


# ---------------------------------------------------------------------------
# Grid search over the EWMA smoothing constant (one-step SSE backtest)
# ---------------------------------------------------------------------------

_GRID_ALPHAS = (0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 0.7, 0.9)


def _grid_fold_sql(a: float) -> str:
    """acc = [ewma, sse]; the one-step error is scored BEFORE the
    state updates — a true backtest, not an in-sample fit."""
    return f"""
      SELECT CAST({a!r} AS DOUBLE) AS alpha,
             list_reduce(
               list_prepend([vals[1], 0.0::DOUBLE],
                 list_transform(vals[2:], v -> [v, 0.0::DOUBLE])),
               (acc, x) -> [
                 acc[1] * {1.0 - a!r} + x[1] * {a!r},
                 acc[2] + (x[1] - acc[1]) * (x[1] - acc[1])
               ])[2] AS sse
      FROM seq"""


@_register(
    "ewma_alpha_grid_search",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(floor(sum(CAST(floor(o_totalprice * 100)
                   AS BIGINT)) / 100000) AS BIGINT) AS DOUBLE) AS kd
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT list(kd ORDER BY day) AS vals,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    grid AS ({" UNION ALL ".join(_grid_fold_sql(a) for a in _GRID_ALPHAS)}),
    best AS (
      SELECT alpha FROM grid ORDER BY sse ASC, alpha ASC LIMIT 1
    )
    SELECT g.alpha,
           (SELECT n FROM seq) AS n_days,
           floor(g.sse * 10000 + 0.5) / 10000.0 AS sse,
           g.alpha = (SELECT alpha FROM best) AS is_best
    FROM grid g
    """,
    "Smoothing-constant GRID SEARCH for the daily-revenue EWMA: 8 "
    "candidate alphas each run a one-step-ahead backtest fold "
    "(error scored against the PRE-update state — honest "
    "out-of-sample residuals, not in-sample fit), SSE accumulates "
    "inside the same day-ordered fold so every candidate's score "
    "is bit-identical across engines, and the argmin (tie -> "
    "smaller alpha) is flagged. This is the missing TUNING loop "
    "of the forecasting family — EWMA/Holt/Holt-Winters/Croston "
    "all fix their constants; this one earns them. Kilodollar "
    "units; 8 folds over one days-sized rollup, no extra shuffle.",
    ("timeseries", "forecast", "tuning", "orders"),
)
def ewma_alpha_grid_search(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")) / 100000
        )
        .cast("long")
        .cast("double")
        .alias("kd")
    )
    seq = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "kd"))).alias("s"),
        F.count("*").alias("n"),
    ).select(
        F.transform(F.col("s"), lambda x: x["kd"]).alias("vals"), "n"
    ).localCheckpoint(eager=False)
    rest = F.slice(
        F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))
    )
    rows = []
    for a in _GRID_ALPHAS:
        init = F.struct(
            F.element_at(F.col("vals"), 1).alias("e"),
            F.lit(0.0).alias("sse"),
        )

        def make_step(aa):
            def step(acc, x):
                return F.struct(
                    (acc["e"] * (1.0 - aa) + x * aa).alias("e"),
                    (acc["sse"] + (x - acc["e"]) * (x - acc["e"])).alias(
                        "sse"
                    ),
                )

            return step

        st = F.aggregate(rest, init, make_step(a))
        rows.append(
            seq.select(
                F.lit(a).alias("alpha"),
                F.col("n").cast("long").alias("n_days"),
                st["sse"].alias("sse_raw"),
            )
        )
    grid = rows[0]
    for r in rows[1:]:
        grid = grid.unionAll(r)
    grid = grid.localCheckpoint(eager=False)
    best = (
        grid.orderBy(F.col("sse_raw").asc(), F.col("alpha").asc())
        .limit(1)
        .select(F.col("alpha").alias("best_alpha"))
    )
    return grid.crossJoin(F.broadcast(best)).select(
        "alpha",
        "n_days",
        (F.floor(F.col("sse_raw") * 10000 + F.lit(0.5)) / 10000.0).alias(
            "sse"
        ),
        (F.col("alpha") == F.col("best_alpha")).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Hierarchical forecast reconciliation: nations under regions
# ---------------------------------------------------------------------------

_HR_ALPHA = 0.3


def _hr_ewma_sql(val: str) -> str:
    return (
        f"list_reduce({val}, (acc, x) -> acc * {1.0 - _HR_ALPHA}::DOUBLE"
        f" + x * {_HR_ALPHA}::DOUBLE)"
    )


@_register(
    "hierarchical_forecast_reconciliation",
    f"""
    WITH nat_daily AS (
      SELECT n.n_regionkey AS rkey, n.n_nationkey AS nkey,
             n.n_name AS nation, r.r_name AS region,
             CAST(o.o_orderdate AS DATE) AS day,
             CAST(CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS DOUBLE) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2, 3, 4, 5
    ),
    nat_fc AS MATERIALIZED (
      SELECT rkey, nkey, nation, region,
             {_hr_ewma_sql("list(rev ORDER BY day)")} AS base_fc,
             CAST(sum(CAST(rev AS BIGINT)) AS BIGINT) AS hist_rev
      FROM nat_daily GROUP BY 1, 2, 3, 4
    ),
    reg_daily AS (
      SELECT rkey, day, CAST(sum(CAST(rev AS BIGINT)) AS DOUBLE) AS rev
      FROM nat_daily GROUP BY 1, 2
    ),
    reg_fc AS MATERIALIZED (
      SELECT rkey, {_hr_ewma_sql("list(rev ORDER BY day)")} AS region_fc
      FROM reg_daily GROUP BY 1
    ),
    reg_tot AS (
      SELECT rkey, CAST(sum(hist_rev) AS BIGINT) AS reg_hist,
             list_reduce(list_prepend(0.0::DOUBLE,
               list(base_fc ORDER BY nkey)), (a, b) -> a + b)
               AS bottom_up_sum
      FROM nat_fc GROUP BY 1
    )
    SELECT f.region, f.nation,
           floor(f.base_fc * 100 + 0.5) / 100.0 AS base_forecast,
           floor(r.region_fc * (f.hist_rev / CAST(t.reg_hist AS DOUBLE))
                 * 100 + 0.5) / 100.0 AS top_down_forecast,
           floor(r.region_fc * 100 + 0.5) / 100.0 AS region_forecast,
           floor(t.bottom_up_sum * 100 + 0.5) / 100.0
             AS bottom_up_region_sum,
           floor((t.bottom_up_sum - r.region_fc) * 100 + 0.5) / 100.0
             AS coherence_gap
    FROM nat_fc f
    JOIN reg_fc r ON r.rkey = f.rkey
    JOIN reg_tot t ON t.rkey = f.rkey
    """,
    "Hierarchical forecast reconciliation (nations roll up to "
    "regions): per-nation EWMA forecasts of daily revenue, the "
    "independently-forecast region series, and the two classic "
    "reconciliations side by side — TOP-DOWN (region forecast "
    "split by exact historical revenue shares) and BOTTOM-UP "
    "(nation-ordered fold of base forecasts), with the coherence "
    "gap that motivates reconciliation in the first place: "
    "independently-fit forecasts DON'T add up, and a planning org "
    "needs one number per level. Every fold day- or "
    "nation-ordered, every share an exact integer ratio — "
    "bit-identical across engines. Grid-sized after one fact "
    "rollup; the hierarchy completion of the forecasting family.",
    ("timeseries", "forecast", "hierarchy", "orders"),
)
def hierarchical_forecast_reconciliation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nat_daily = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(
            F.col("n_regionkey").alias("rkey"),
            F.col("n_nationkey").alias("nkey"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("double")
            .alias("rev")
        )
        .localCheckpoint(eager=False)
    )

    def ewma_fold(sorted_vals):
        first = F.element_at(sorted_vals, 1)
        rest = F.slice(
            sorted_vals, 2, F.greatest(F.size(sorted_vals) - 1, F.lit(0))
        )
        return F.aggregate(
            rest,
            first,
            lambda acc, x: acc * (1.0 - _HR_ALPHA) + x * _HR_ALPHA,
        )

    nat_fc = (
        nat_daily.groupBy("rkey", "nkey", "nation", "region")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("s"),
            F.sum(F.col("rev").cast("long")).alias("hist_rev"),
        )
        .select(
            "rkey",
            "nkey",
            "nation",
            "region",
            ewma_fold(F.transform(F.col("s"), lambda x: x["rev"])).alias(
                "base_fc"
            ),
            "hist_rev",
        )
        .localCheckpoint(eager=False)
    )
    reg_daily = nat_daily.groupBy("rkey", "day").agg(
        F.sum(F.col("rev").cast("long")).cast("double").alias("rev")
    )
    reg_fc = reg_daily.groupBy("rkey").agg(
        F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("s")
    ).select(
        "rkey",
        ewma_fold(F.transform(F.col("s"), lambda x: x["rev"])).alias(
            "region_fc"
        ),
    )
    reg_tot = nat_fc.groupBy("rkey").agg(
        F.sum("hist_rev").alias("reg_hist"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("nkey", "base_fc"))),
            F.lit(0.0),
            lambda a, x: a + x["base_fc"],
        ).alias("bottom_up_sum"),
    )
    r2 = lambda col: F.floor(col * 100 + F.lit(0.5)) / 100.0  # noqa: E731
    return (
        nat_fc.join(F.broadcast(reg_fc), "rkey")
        .join(F.broadcast(reg_tot), "rkey")
        .select(
            "region",
            "nation",
            r2(F.col("base_fc")).alias("base_forecast"),
            r2(
                F.col("region_fc")
                * (F.col("hist_rev") / F.col("reg_hist").cast("double"))
            ).alias("top_down_forecast"),
            r2(F.col("region_fc")).alias("region_forecast"),
            r2(F.col("bottom_up_sum")).alias("bottom_up_region_sum"),
            r2(F.col("bottom_up_sum") - F.col("region_fc")).alias(
                "coherence_gap"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Binary segmentation: the SSE-optimal single changepoint
# ---------------------------------------------------------------------------


@_register(
    "binary_segmentation_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        / 100000) AS BIGINT) AS kd
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, kd,
             row_number() OVER (ORDER BY day) AS i,
             CAST(sum(kd) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS ck,
             CAST(sum(kd * kd) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cq
      FROM daily
    ),
    tot AS (
      SELECT CAST(max(i) AS BIGINT) AS n, CAST(max(ck) AS BIGINT) AS sk,
             CAST(max(cq) AS BIGINT) AS sq
      FROM idx
    ),
    scored AS MATERIALIZED (
      -- split AFTER index i: SSE = (sq_l - ck^2/i) + (sq_r - sk_r^2/n_r),
      -- kept as one exact-integer numerator over i*(n-i)
      SELECT x.day, x.i,
             CAST(t.sq AS DOUBLE)
             - (CAST(x.ck AS DOUBLE) * x.ck) / x.i
             - (CAST(t.sk - x.ck AS DOUBLE) * (t.sk - x.ck)) / (t.n - x.i)
               AS sse,
             (CAST(t.sq AS DOUBLE) - (CAST(t.sk AS DOUBLE) * t.sk) / t.n)
               AS sse0
      FROM idx x CROSS JOIN tot t
      WHERE x.i >= 7 AND x.i <= t.n - 7
    ),
    best AS (
      SELECT day, i, sse, sse0 FROM scored
      ORDER BY sse ASC, day ASC LIMIT 1
    )
    SELECT b.day AS changepoint_day,
           CAST(b.i AS BIGINT) AS split_index,
           floor(b.sse0 * 10000 + 0.5) / 10000.0 AS sse_no_split,
           floor(b.sse * 10000 + 0.5) / 10000.0 AS sse_best_split,
           floor((1.0 - b.sse / b.sse0) * 1000000 + 0.5) / 1000000.0
             AS variance_explained
    FROM best b
    """,
    "Binary segmentation changepoint: the SSE-optimal single split "
    "of the daily-revenue series (mean-shift model), scanning "
    "every candidate day with O(1) prefix-moment arithmetic — "
    "integer cumulative sums make each candidate's two-segment "
    "SSE a pinned expression, so the argmin day is "
    "bit-deterministic (7-day margins avoid degenerate splits). "
    "Reports the variance the split explains — and because "
    "`cusum_changepoint_daily` locates its changepoint by a "
    "DIFFERENT criterion (max cumulative deviation), agreement "
    "between the two days is the practitioners' cross-check that "
    "the shift is real. Kilodollar units; windows on the "
    "days-sized rollup only.",
    ("timeseries", "changepoint", "orders"),
)
def binary_segmentation_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")) / 100000
        )
        .cast("long")
        .alias("kd")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        "day",
        "kd",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.sum("kd").over(w).alias("ck"),
        F.sum(
            F.col("kd").cast("decimal(20,0)") * F.col("kd")
        ).over(w).alias("cq"),
    ).localCheckpoint(eager=False)
    tot = idx.agg(
        F.max("i").alias("n"), F.max("ck").alias("sk"), F.max("cq").alias("sq")
    )
    scored = (
        idx.crossJoin(F.broadcast(tot))
        .filter((F.col("i") >= 7) & (F.col("i") <= F.col("n") - 7))
        .select(
            "day",
            "i",
            (
                F.col("sq").cast("double")
                - (F.col("ck").cast("double") * F.col("ck")) / F.col("i")
                - (
                    (F.col("sk") - F.col("ck")).cast("double")
                    * (F.col("sk") - F.col("ck"))
                )
                / (F.col("n") - F.col("i"))
            ).alias("sse"),
            (
                F.col("sq").cast("double")
                - (F.col("sk").cast("double") * F.col("sk")) / F.col("n")
            ).alias("sse0"),
        )
        .localCheckpoint(eager=False)
    )
    best = scored.orderBy(F.col("sse").asc(), F.col("day").asc()).limit(1)
    return best.select(
        F.col("day").alias("changepoint_day"),
        F.col("i").cast("long").alias("split_index"),
        (F.floor(F.col("sse0") * 10000 + F.lit(0.5)) / 10000.0).alias(
            "sse_no_split"
        ),
        (F.floor(F.col("sse") * 10000 + F.lit(0.5)) / 10000.0).alias(
            "sse_best_split"
        ),
        (
            F.floor(
                (F.lit(1.0) - F.col("sse") / F.col("sse0")) * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("variance_explained"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals for the seasonal-naive forecaster
# ---------------------------------------------------------------------------

_CONF_LEVELS = (0.8, 0.9, 0.95)


@_register(
    "conformal_prediction_intervals",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, rev, row_number() OVER (ORDER BY day) AS i,
             lag(rev, 7) OVER (ORDER BY day) AS fc
      FROM daily
    ),
    n AS (SELECT CAST(max(i) AS BIGINT) AS n FROM idx),
    scored AS MATERIALIZED (
      SELECT x.i, x.rev, x.fc, abs(x.rev - x.fc) AS resid,
             x.i <= (t.n * 4) // 5 AS is_cal
      FROM idx x CROSS JOIN n t
      WHERE x.fc IS NOT NULL
    ),
    cal AS MATERIALIZED (
      -- discrete quantile pinned explicitly: the residual at sorted
      -- rank ceil(q * n_cal) — identical indexing in both engines
      SELECT list(resid ORDER BY resid) AS rs,
             CAST(count(*) AS BIGINT) AS nc
      FROM scored WHERE is_cal
    ),
    qhat AS (
      SELECT {", ".join(
          f"CAST(rs[CAST(ceil({q!r} * nc) AS INTEGER)] AS BIGINT)"
          f" AS q{int(q * 100)}"
          for q in _CONF_LEVELS)}
      FROM cal
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({q!r} AS DOUBLE) AS level,
           (SELECT q{int(q * 100)} FROM qhat) AS interval_halfwidth_cents,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN resid <= (SELECT q{int(q * 100)} FROM qhat)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           floor(sum(CASE WHEN resid <= (SELECT q{int(q * 100)} FROM qhat)
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS empirical_coverage
        FROM scored WHERE NOT is_cal'''
        for q in _CONF_LEVELS)}
    """,
    "Split-conformal prediction intervals around the seasonal-naive "
    "(lag-7) forecaster: absolute residuals on the first 80% of "
    "days calibrate a DISCRETE quantile half-width per nominal "
    "level (the residual at sorted rank ceil(q*n) — indexed "
    "explicitly so both engines pick the identical integer), and "
    "the held-out 20% reports EMPIRICAL coverage — the "
    "distribution-free guarantee that turns any point forecaster "
    "into an honest interval, with the holdout check that catches "
    "exchangeability violations (trend/regime drift). Residuals "
    "are exact integer cents; the calibration array is days-sized. "
    "The uncertainty completion of the forecasting family "
    "(`seasonal_naive_mase_daily` scores the point forecast this "
    "wraps).",
    ("timeseries", "forecast", "uncertainty", "orders"),
)
def conformal_prediction_intervals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w = Window.orderBy("day")
    idx = daily.select(
        "day",
        "rev",
        F.row_number().over(w).alias("i"),
        F.lag("rev", 7).over(w).alias("fc"),
    )
    n = idx.agg(F.max("i").alias("n"))
    scored = (
        idx.crossJoin(F.broadcast(n))
        .filter(F.col("fc").isNotNull())
        .select(
            "i",
            F.abs(F.col("rev") - F.col("fc")).alias("resid"),
            (F.col("i") <= F.expr("(n * 4) div 5")).alias("is_cal"),
        )
        .localCheckpoint(eager=False)
    )
    cal = scored.filter("is_cal").agg(
        F.array_sort(F.collect_list("resid")).alias("rs"),
        F.count("*").alias("nc"),
    )
    qhat = cal.select(
        *[
            F.element_at(
                F.col("rs"), F.ceil(F.lit(float(q)) * F.col("nc")).cast("int")
            )
            .cast("long")
            .alias(f"q{int(q * 100)}")
            for q in _CONF_LEVELS
        ]
    ).localCheckpoint(eager=False)
    test = scored.filter(~F.col("is_cal"))
    out = None
    for q in _CONF_LEVELS:
        qc = f"q{int(q * 100)}"
        one = (
            test.crossJoin(F.broadcast(qhat.select(qc)))
            .agg(
                F.max(qc).alias("hw"),
                F.count("*").alias("n_test"),
                F.sum(
                    F.when(F.col("resid") <= F.col(qc), 1).otherwise(0)
                ).alias("n_covered"),
            )
            .select(
                F.lit(float(q)).alias("level"),
                F.col("hw").cast("long").alias("interval_halfwidth_cents"),
                F.col("n_test").cast("long").alias("n_test"),
                F.col("n_covered").cast("long").alias("n_covered"),
                (
                    F.floor(
                        F.col("n_covered")
                        / F.col("n_test").cast("double")
                        * 1000000
                        + F.lit(0.5)
                    )
                    / 1000000.0
                ).alias("empirical_coverage"),
            )
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Seasonality strength of daily revenue (Hyndman's F_seasonal)
# ---------------------------------------------------------------------------


@_register(
    "seasonality_strength_daily",
    """
    WITH daily AS (
      SELECT day, CAST(floor(rev_cents / 100000) AS BIGINT) AS kd,
             CAST((CAST(day - DATE '1970-01-01' AS BIGINT) + 4) % 7
                  AS BIGINT) AS wd
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
      )
    ),
    ma AS (
      SELECT day, kd, wd,
             CASE WHEN count(*) OVER w = 7 THEN
               CAST(sum(kd) OVER w AS BIGINT) END AS ma7_sum
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS MATERIALIZED (
      -- detrended in SEVENTHS of a kilodollar: 7*kd - MA-sum is integer
      SELECT day, wd, CAST(7 * kd - ma7_sum AS BIGINT) AS d7
      FROM ma WHERE ma7_sum IS NOT NULL
    ),
    seas AS (
      SELECT wd, CAST(sum(d7) AS BIGINT) AS s_sum,
             CAST(count(*) AS BIGINT) AS s_n
      FROM detr GROUP BY 1
    ),
    resid AS (
      -- floored remainder keeps every moment an exact integer
      SELECT CAST(floor(d.d7 - CAST(s.s_sum AS DOUBLE) / s.s_n) AS BIGINT)
               AS r,
             d.d7 AS d7
      FROM detr d JOIN seas s ON s.wd = d.wd
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS sr,
             CAST(sum(r * r) AS BIGINT) AS srr,
             CAST(sum(d7) AS BIGINT) AS sd,
             CAST(sum(d7 * d7) AS BIGINT) AS sdd
      FROM resid
    )
    SELECT n AS n_days,
           floor(greatest(0.0,
                 1.0 - (CAST(n * srr - sr * sr AS DOUBLE)
                        / CAST(n * sdd - sd * sd AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS f_seasonal,
           floor(CAST(n * srr - sr * sr AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n) / 49.0 * 10000 + 0.5) / 10000.0
             AS resid_var_kd2
    FROM m
    """,
    "Seasonality strength of daily revenue (Hyndman's F_seasonal): "
    "classical decomposition with a centered 7-day moving average "
    "(kept integer by working in SEVENTHS of a kilodollar: 7*kd - "
    "MA-sum), weekday means as the seasonal component, remainders "
    "FLOORED to integers so every variance comes from exact "
    "integer moments — F_s = max(0, 1 - var(remainder)/"
    "var(detrended)), near 1 meaning the weekday cycle dominates "
    "(seasonal models justified), near 0 meaning Holt-Winters and "
    "seasonal-naive would be fitting noise. The model-selection "
    "diagnostic that arbitrates the forecasting family; windows "
    "on the days-sized rollup only.",
    ("timeseries", "diagnostics", "orders"),
)
def seasonality_strength_daily(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    daily = base.select(
        "day",
        F.floor(F.col("rev_cents") / 100000).cast("long").alias("kd"),
        (
            (F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long") + 4)
            % 7
        ).alias("wd"),
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "kd",
        "wd",
        F.when(F.count("*").over(w) == 7, F.sum("kd").over(w)).alias(
            "ma7_sum"
        ),
    )
    detr = (
        ma.filter(F.col("ma7_sum").isNotNull())
        .select(
            "day", "wd", (7 * F.col("kd") - F.col("ma7_sum")).alias("d7")
        )
        .localCheckpoint(eager=False)
    )
    seas = detr.groupBy("wd").agg(
        F.sum("d7").alias("s_sum"), F.count("*").alias("s_n")
    )
    resid = detr.join(F.broadcast(seas), "wd").select(
        F.floor(
            F.col("d7") - F.col("s_sum").cast("double") / F.col("s_n")
        )
        .cast("long")
        .alias("r"),
        "d7",
    )
    m = resid.agg(
        F.count("*").alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r").cast("decimal(20,0)") * F.col("r")).alias("srr"),
        F.sum("d7").alias("sd"),
        F.sum(F.col("d7").cast("decimal(20,0)") * F.col("d7")).alias("sdd"),
    )
    var_r = (F.col("n") * F.col("srr") - F.col("sr") * F.col("sr")).cast(
        "double"
    )
    var_d = (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")).cast(
        "double"
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        (
            F.floor(
                F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_d)
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("f_seasonal"),
        (
            F.floor(
                var_r / (F.col("n").cast("double") * F.col("n")) / 49.0
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("resid_var_kd2"),
    )
