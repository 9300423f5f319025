"""Approximate state: HLL, KMV, count-min, Bloom and bitmap sketches
with their error audits against exact counts.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import tokens
from ...core import BLOCKLIST_WEIGHTS, _register, _t


# ---------------------------------------------------------------------------
# DataSketches surface: mergeable approximate state for 1000-executor aggs
# ---------------------------------------------------------------------------

@_register(
    "sketch_distinct_users_by_type",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS n_events,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__total__',
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(count(*) AS BIGINT),
           TRUE
    FROM events
    """,
    "Mergeable distinct-count sketches (Apache DataSketches HLL via "
    "hll_sketch_agg/hll_sketch_estimate): per-event-type distinct "
    "users plus a grand total from hll_union_agg over the per-type "
    "partial sketches — the re-aggregatable rollup pattern that lets "
    "1000 executors sketch locally and merge losslessly. Full oracle "
    "row (was rows-only through r4): each row carries the exact "
    "distinct count plus a per-row boolean pinning the HLL estimate "
    "inside the lgK=12 5% envelope (theory ~1.6% standard error; "
    "sparse-mode-exact at the oracle SF) — the oracle recomputes the "
    "exact side and pins the boolean, so ONE bad type or a lossy "
    "hll_union_agg merge flips its own driver-visible row. The "
    "aggregate companion hll_type_error_bound (families/mining/sketch.py) predates "
    "this conversion and stays as a second witness",
    ("sketch", "agg", "events"),
)
def sketch_distinct_users_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # lazy localCheckpoint: BOTH union branches read per_type, and
    # without it the sketch+count_distinct aggregation (an extra
    # expand/shuffle next to the sketch agg) runs twice per execution
    per_type = (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sketch"),
            F.count_distinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .localCheckpoint(eager=False)
    )
    within = (
        F.abs(
            F.hll_sketch_estimate("sketch")
            - F.col("exact_users").cast("double")
        )
        <= F.lit(0.05) * F.col("exact_users").cast("double")
    )
    return per_type.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        "n_events",
        within.alias("est_within_5pct"),
    ).unionByName(
        per_type.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
            F.sum("n_events").alias("n_events"),
        )
        .crossJoin(
            e.agg(F.count_distinct("user_id").alias("exact_users"))
        )
        .select(
            F.lit("__total__").alias("event_type"),
            F.col("exact_users").cast("long").alias("exact_users"),
            "n_events",
            (
                F.abs(F.col("est") - F.col("exact_users").cast("double"))
                <= F.lit(0.05) * F.col("exact_users").cast("double")
            ).alias("est_within_5pct"),
        )
    )


@_register(
    "heavy_hitters_tokens_sketch",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS token
      FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS INTEGER)
             AS rank
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT 5
    """,
    "Mergeable heavy hitters: per-source approx_top_k_accumulate "
    "sketches combined with approx_top_k_combine, then estimated — "
    "the two-level (partial → merge) shape that turns a 100 TB "
    "top-k into one tiny sketch per partition group instead of a "
    "full token shuffle. Capacity exceeds the vocabulary, so the "
    "sketch is provably exact here and the DuckDB oracle checks it "
    "value-for-value",
    ("sketch", "heavy-hitters", "documents"),
)
def heavy_hitters_tokens_sketch(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    parts = toks.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(token, 8192)").alias("st")
    )
    est = parts.agg(
        F.expr(
            "approx_top_k_estimate(approx_top_k_combine(st, 8192), 5)"
        ).alias("t")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        est.select(F.explode("t").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("bigint").alias("n"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
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
    "companion `hll_sliding_error_bound` (families/mining/sketch.py): a single "
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


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (mergeable integer state, exact twin)
# ---------------------------------------------------------------------------

_CMS_DEPTH = 3
_CMS_WIDTH = 256


@_register(
    "cms_token_counts",
    f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x <> '')) AS token
      FROM documents
    ),
    tc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
    ds AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d),
    hashed AS (
      SELECT t.token, t.cnt, ds.d,
             ('0x' || substr(md5(CAST(ds.d AS VARCHAR) || ':' || t.token),
                             1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
      FROM tc t CROSS JOIN ds
    ),
    cms AS (SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS c
            FROM hashed GROUP BY 1, 2),
    top AS (SELECT token, cnt FROM tc
            ORDER BY cnt DESC, token ASC LIMIT 20),
    est AS (
      SELECT tp.token, tp.cnt, min(cm.c) AS est
      FROM top tp
      JOIN hashed h ON h.token = tp.token
      JOIN cms cm ON cm.d = h.d AND cm.bucket = h.bucket
      GROUP BY 1, 2
    )
    SELECT token, cnt AS exact_count, CAST(est AS BIGINT) AS cms_estimate,
           CAST(est - cnt AS BIGINT) AS overestimate
    FROM est
    """,
    "Count-min sketch over the corpus token stream (depth 3 × width "
    "256, md5-derived row hashes): point estimates for the top-20 "
    "exact heavy hitters alongside their true counts and the "
    "sketch's (always ≥ 0) overestimate. The sketch state is "
    f"{_CMS_DEPTH}×{_CMS_WIDTH} mergeable integers — map-side "
    "combinable, broadcast-able, and O(1) regardless of vocabulary, "
    "the streaming heavy-hitter companion to the exact/HLL/theta "
    "distinct family. Hashing is engine-replicated md5 arithmetic, "
    "so the DuckDB twin reproduces the sketch bit-for-bit; the "
    "top-20 selection is a lossless two-stage top-k",
    ("sketch", "heavy-hitters", "text", "documents"),
)
def cms_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    tc = tok.groupBy("token").agg(F.count("*").alias("cnt"))

    def bucket_for(depth_col):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        depth_col.cast("string"), F.lit(":"), F.col("token")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return h % _CMS_WIDTH

    hashed = tc.select(
        "token",
        "cnt",
        F.explode(
            F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])
        ).alias("d"),
    ).withColumn("bucket", bucket_for(F.col("d")))
    cms = hashed.groupBy("d", "bucket").agg(F.sum("cnt").alias("c"))

    # lossless two-stage top-20 (per-partition prune, then merge)
    pw = Window.partitionBy("_pid").orderBy(F.desc("cnt"), F.asc("token"))
    gw = Window.orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        tc.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prk", F.row_number().over(pw))
        .filter(F.col("_prk") <= 20)
        .drop("_pid", "_prk")
        .withColumn("_rk", F.row_number().over(gw))
        .filter(F.col("_rk") <= 20)
        .drop("_rk")
    )
    est = (
        top.join(hashed.select("token", "d", "bucket"), "token")
        .join(cms, ["d", "bucket"])
        .groupBy("token", "cnt")
        .agg(F.min("c").alias("est"))
    )
    return est.select(
        "token",
        F.col("cnt").alias("exact_count"),
        F.col("est").cast("long").alias("cms_estimate"),
        (F.col("est") - F.col("cnt")).cast("long").alias("overestimate"),
    )


@_register(
    "sketch_distinct_error_floor",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(0.05 AS DOUBLE) AS tolerance,
           TRUE AS within_tolerance
    FROM events GROUP BY event_type
    """,
    "Driver-visible accuracy gate for the DataSketches HLL tier "
    "(same contract as the ANN recall floors): per event type, the "
    "hll_sketch_agg estimate must land within ±5% of the exact "
    "distinct-user count computed in the SAME Spark job; the oracle "
    "pins the exact counts and the expectation — the sketch's binary "
    "image is engine-specific, its ACCURACY CONTRACT is not. A "
    "regression in sketch config/lgK breaks this row red",
    ("sketch", "evaluation", "events"),
)
def sketch_distinct_error_floor(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    rel_err = (
        F.abs(F.col("approx") - F.col("exact_users"))
        / F.col("exact_users").cast("double")
    )
    return per_type.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.lit(0.05).cast("double").alias("tolerance"),
        (rel_err <= F.lit(0.05)).alias("within_tolerance"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter blocklist screen with exact false-positive accounting
# ---------------------------------------------------------------------------

_BLOOM_M = 256
_BLOOM_K = 3


def _bloom_positions(term):
    return [
        int(hashlib.md5(f"{term}#bloom{i}".encode()).hexdigest()[:8], 16)
        % _BLOOM_M
        for i in range(_BLOOM_K)
    ]


_BLOOM_BITS = sorted(
    {p for t in BLOCKLIST_WEIGHTS for p in _bloom_positions(t)}
)
_BLOOM_TERMS_SQL = ", ".join(f"'{t}'" for t in sorted(BLOCKLIST_WEIGHTS))
_BLOOM_BITS_SQL = ", ".join(str(b) for b in _BLOOM_BITS)


def _bloom_probe_sql(i):
    return (
        f"CAST(CAST(('0x' || substr(md5(tok || '#bloom{i}'), 1, 8)) "
        f"AS UBIGINT) % {_BLOOM_M} AS INTEGER) IN ({_BLOOM_BITS_SQL})"
    )


@_register(
    "bloom_filter_fp_audit",
    f"""
    WITH toks AS (
      SELECT DISTINCT tok FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x <> '')) AS tok
        FROM documents
      )
    ),
    probed AS (
      SELECT tok,
             ({_bloom_probe_sql(0)}) AND ({_bloom_probe_sql(1)})
               AND ({_bloom_probe_sql(2)}) AS bloom_pos,
             tok IN ({_BLOOM_TERMS_SQL}) AS exact_pos
      FROM toks
    )
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST({len(_BLOOM_BITS)} AS INTEGER) AS n_bits_set,
           CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_positives,
           CAST(sum(CASE WHEN exact_pos THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_positives,
           CAST(sum(CASE WHEN bloom_pos AND NOT exact_pos
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
           CAST(sum(CASE WHEN bloom_pos AND NOT exact_pos
                         THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS fp_rate_ppm
    FROM probed
    """,
    "Bloom-filter pre-screen for the blocklist with EXACT "
    "false-positive accounting: a 256-bit / 3-hash filter is built "
    "over the policy terms at plan time (md5-derived bit positions "
    "materialized as literals into both engines, so membership is "
    "bit-identical), every distinct corpus token is probed, and the "
    "audit reports bloom vs exact positives and the realized FP "
    "rate in ppm. This is the cheap first stage a 100 TB pipeline "
    "runs scan-local before the exact `blocklist_screen_documents` "
    "pass: the filter is a compile-time constant (no join, no "
    "shuffle), and only the vocabulary-bounded distinct-token set "
    "is shuffled for the audit. The deliberately small m=256 makes "
    "the FP path observable at test scale.",
    ("text-quality", "sketch", "documents"),
)
def bloom_filter_fp_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda x: x != "",
                )
            ).alias("tok")
        )
        .distinct()
    )

    def _pos(i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("tok"), F.lit(f"#bloom{i}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        ).cast("int")

    bits = F.array(*[F.lit(b) for b in _BLOOM_BITS])
    bloom_pos = (
        F.array_contains(bits, _pos(0))
        & F.array_contains(bits, _pos(1))
        & F.array_contains(bits, _pos(2))
    )
    exact_pos = F.col("tok").isin(*sorted(BLOCKLIST_WEIGHTS))
    probed = toks.select(
        bloom_pos.alias("bloom_pos"), exact_pos.alias("exact_pos")
    )
    fp = F.sum(
        F.when(F.col("bloom_pos") & ~F.col("exact_pos"), 1).otherwise(0)
    )
    return probed.agg(
        F.count("*").alias("n_distinct_tokens"),
        F.lit(len(_BLOOM_BITS)).cast("int").alias("n_bits_set"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
        .cast("long")
        .alias("bloom_positives"),
        F.sum(F.when(F.col("exact_pos"), 1).otherwise(0))
        .cast("long")
        .alias("exact_positives"),
        fp.cast("long").alias("false_positives"),
        F.expr(
            "CAST(sum(CASE WHEN bloom_pos AND NOT exact_pos THEN 1 ELSE 0 "
            "END) * 1000000 div count(*) AS BIGINT)"
        ).alias("fp_rate_ppm"),
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch: per-type estimates + union/intersection of two types
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_SPACE = float(2 ** 60)  # 15 hex chars of md5 → [0, 2^60)
_KMV_PAIR = ("view", "click")


@_register(
    "kmv_distinct_union_events",
    f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
      SELECT event_type,
             CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                       AS UBIGINT) AS BIGINT) AS h
      FROM du
    ),
    sketch AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {_KMV_K}
    ),
    per_type AS (
      SELECT event_type AS key,
             CAST(count(*) AS BIGINT) AS n_sketch,
             CAST(max(h) AS BIGINT) AS h_k,
             CASE WHEN count(*) < {_KMV_K}
                  THEN CAST(count(*) AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / max(h)
             END AS est
      FROM sketch GROUP BY 1
    ),
    exact AS (
      SELECT event_type AS key, CAST(count(*) AS BIGINT) AS exact_distinct
      FROM du GROUP BY 1
    ),
    mergedsk AS (
      SELECT h, CAST(count(*) AS BIGINT) AS in_both FROM (
        SELECT DISTINCT event_type, h FROM sketch
        WHERE event_type IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}')
      ) GROUP BY h
    ),
    mergedk AS (
      SELECT h, in_both FROM (
        SELECT h, in_both, row_number() OVER (ORDER BY h) AS rn
        FROM mergedsk
      ) WHERE rn <= {_KMV_K}
    ),
    union_est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sketch,
             CAST(max(h) AS BIGINT) AS h_k,
             CASE WHEN count(*) < {_KMV_K}
                  THEN CAST(count(*) AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / max(h)
             END AS est,
             CAST(sum(CASE WHEN in_both = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS k_in_both
      FROM mergedk
    ),
    union_exact AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events
      WHERE event_type IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}')
    ),
    inter_exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM (
        SELECT user_id FROM du
        WHERE event_type IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}')
        GROUP BY user_id HAVING count(*) = 2
      )
    )
    SELECT p.key, p.n_sketch, p.h_k,
           floor(p.est * 100 + 0.5) / 100.0 AS est_distinct,
           e.exact_distinct
    FROM per_type p JOIN exact e ON e.key = p.key
    UNION ALL
    SELECT '{_KMV_PAIR[0]} UNION {_KMV_PAIR[1]}', u.n_sketch, u.h_k,
           floor(u.est * 100 + 0.5) / 100.0, x.exact_distinct
    FROM union_est u CROSS JOIN union_exact x
    UNION ALL
    SELECT '{_KMV_PAIR[0]} INTERSECT {_KMV_PAIR[1]}', u.k_in_both, u.h_k,
           floor(CAST(u.k_in_both AS DOUBLE) / u.n_sketch * u.est * 100
                 + 0.5) / 100.0,
           i.exact_distinct
    FROM union_est u CROSS JOIN inter_exact i
    """,
    "KMV (k-minimum-values / theta-sketch) distinct counting with "
    "SET OPERATIONS — the mergeable-sketch capability HLL lacks: "
    "per event type keep the k=256 smallest 60-bit md5 hashes of "
    "user_id (exact integers, so the sketch is bit-identical in "
    "both engines), estimate distinct as (k-1)*2^60/h_k (exact "
    "count when the type has fewer than k users); merging two "
    "sketches and re-truncating to k gives the union estimate, and "
    "the fraction of merged minima present in BOTH sketches gives "
    "Jaccard -> intersection, with exact distincts alongside for "
    "error audit. Two-stage top-k per type (per-partition minima, "
    "then merge) — the sketch is k-sized per type, the union pass "
    "touches 2k rows; nothing global ever sorts the fact table.",
    ("sketch", "distinct", "set-ops", "events"),
)
def kmv_distinct_union_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("long")
    )
    hashed = du.select("event_type", h.alias("h"))
    wk = Window.partitionBy("event_type").orderBy("h")
    sketch = (
        hashed.select("event_type", "h", F.row_number().over(wk).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    est_expr = F.when(
        F.count("*") < _KMV_K, F.count("*").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.max("h"))
    per_type = sketch.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").alias("n_sketch"),
        F.max("h").cast("long").alias("h_k"),
        est_expr.alias("est"),
    )
    exact = du.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").alias("exact_distinct")
    )
    r2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / F.lit(100.0)  # noqa: E731
    typed = per_type.join(exact, "key").select(
        "key",
        F.col("n_sketch").cast("long").alias("n_sketch"),
        "h_k",
        r2(F.col("est")).alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )
    pair = sketch.filter(F.col("event_type").isin(*_KMV_PAIR))
    mergedsk = (
        pair.select("event_type", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("in_both"))
    )
    wm = Window.orderBy("h")
    mergedk = (
        mergedsk.select("h", "in_both", F.row_number().over(wm).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
    )
    union_est = mergedk.agg(
        F.count("*").alias("n_sketch"),
        F.max("h").cast("long").alias("h_k"),
        est_expr.alias("est"),
        F.sum(F.when(F.col("in_both") == 2, 1).otherwise(0)).alias(
            "k_in_both"
        ),
    )
    union_exact = (
        e.filter(F.col("event_type").isin(*_KMV_PAIR))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    inter_exact = (
        du.filter(F.col("event_type").isin(*_KMV_PAIR))
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") == 2)
        .agg(F.count("*").alias("exact_distinct"))
    )
    urow = union_est.crossJoin(union_exact).select(
        F.lit(f"{_KMV_PAIR[0]} UNION {_KMV_PAIR[1]}").alias("key"),
        F.col("n_sketch").cast("long").alias("n_sketch"),
        "h_k",
        r2(F.col("est")).alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )
    irow = union_est.crossJoin(inter_exact).select(
        F.lit(f"{_KMV_PAIR[0]} INTERSECT {_KMV_PAIR[1]}").alias("key"),
        F.col("k_in_both").cast("long").alias("n_sketch"),
        "h_k",
        r2(
            F.col("k_in_both").cast("double")
            / F.col("n_sketch")
            * F.col("est")
        ).alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )
    return typed.unionAll(urow).unionAll(irow)


@_register(
    "hll_sliding_error_bound",
    """
    SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(0.05 AS DOUBLE) AS rel_error_bound,
           TRUE AS bound_met
    FROM events
    """,
    "Driver-visible accuracy gate for the HLL sketch tier "
    "(sliding_distinct_users_7d_hll and sketch_distinct_users_by_"
    "type): the trailing-7-day HLL estimate must stay within 5% "
    "relative error of the exact sliding-distinct rewrite on EVERY "
    "anchor day (measured 0.0 on the fixtures — sparse-mode-exact "
    "cardinalities; 0.05 is the lgK=12 theoretical envelope). "
    "n_days is the SQL-derivable distinct day count. Oracle pins "
    "the expectation — DataSketches HLL internals are engine-"
    "specific",
    ("window", "sketch", "distinct", "evaluation", "events"),
)
def hll_sliding_error_bound(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct().withColumnRenamed("day", "anchor")
    exact = (
        du.join(
            F.broadcast(days),
            (F.col("anchor") >= F.col("day"))
            & (F.col("anchor") <= F.date_add(F.col("day"), 6)),
        )
        .groupBy(F.col("anchor").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact7"))
    )
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    rolled = daily.select(
        "day", F.collect_list("sk").over(w).alias("sks")
    )
    est = F.expr(
        "hll_sketch_estimate("
        "aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
        " (a, x) -> hll_union(a, x)))"
    )
    hll = rolled.select("day", est.cast("long").alias("est7"))
    return (
        exact.join(hll, "day")
        .agg(
            F.count("*").alias("n_days"),
            F.max(
                F.abs(F.col("est7") - F.col("exact7"))
                / F.col("exact7").cast("double")
            ).alias("max_rel_err"),
        )
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.lit(0.05).cast("double").alias("rel_error_bound"),
            (F.col("max_rel_err") <= F.lit(0.05)).alias("bound_met"),
        )
    )


@_register(
    "approx_quantile_rank_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(10000 AS INTEGER) AS accuracy,
           CAST(3 AS INTEGER) AS n_percentiles,
           TRUE AS rank_bound_met
    FROM lineitem
    """,
    "Driver-visible guarantee check for the sketch percentile path "
    "(percentile_approx, the mergeable per-partition alternative to "
    "a global sort at 100 TB): estimates at p50/p90/p99 of "
    "l_extendedprice with accuracy=10000 must each have true rank "
    "within n/accuracy (+1 tie slack) of the target rank p*n — the "
    "Greenwald-Khanna bound the operator advertises. The check "
    "joins the three estimates back against the exact column "
    "(count < est, count <= est) in one conditional aggregate; a "
    "sketch regression lands an estimate outside its rank interval "
    "and flips the boolean. Oracle pins n + TRUE (the sketch "
    "internals are engine-specific; the BOUND is the contract)",
    ("sketch", "percentile", "evaluation", "lineitem"),
)
def approx_quantile_rank_floor(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    ps = [0.5, 0.9, 0.99]
    est = li.agg(
        F.percentile_approx(
            "l_extendedprice", ps, 10000
        ).alias("est"),
        F.count("*").alias("n"),
    ).collect()[0]
    n, ests = est["n"], est["est"]
    slack = n / 10000.0 + 1.0
    checks = []
    for p, e in zip(ps, ests):
        lo = F.sum((F.col("l_extendedprice") < F.lit(e)).cast("long"))
        hi = F.sum((F.col("l_extendedprice") <= F.lit(e)).cast("long"))
        # true rank interval [lo+1, hi] must intersect
        # [p*n - slack, p*n + slack]
        checks.append(
            (lo + 1 <= F.lit(p * n + slack))
            & (hi >= F.lit(p * n - slack))
        )
    met = checks[0] & checks[1] & checks[2]
    return li.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.lit(10000).cast("int").alias("accuracy"),
        F.lit(3).cast("int").alias("n_percentiles"),
        met.alias("rank_bound_met"),
    )


@_register(
    "hll_type_error_bound",
    """
    SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_total_users,
           CAST(0.05 AS DOUBLE) AS rel_err_bound,
           TRUE AS bound_met
    FROM events
    """,
    "Second witness for sketch_distinct_users_by_type (rows-only "
    "through r4; converted to a full oracle row in r5 by grading "
    "each estimate against the in-query exact rewrite): every "
    "per-type hll_sketch_agg "
    "estimate AND the hll_union_agg-merged grand total must sit "
    "within 5% relative error of the exact distinct counts — both "
    "sides computed in-Spark in one pass each, the exact total "
    "cross-checked by the oracle. lgK=12 theory gives ~1.6% standard "
    "error; 5% is the driver-visible envelope. A sketch/merge "
    "regression (lossy union, wrong lgK, truncated estimate) breaks "
    "the bound and flips the boolean",
    ("sketch", "agg", "evaluation", "events"),
)
def hll_type_error_bound(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("exact"),
    )
    typed = per_type.select(
        F.hll_sketch_estimate("sketch").alias("est"),
        F.col("exact").cast("double").alias("exact"),
    )
    total = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    exact_total = e.agg(
        F.count_distinct("user_id").alias("exact_total"),
        F.count_distinct("event_type").alias("n_types"),
    )
    rel = typed.select(
        (F.abs(F.col("est") - F.col("exact")) / F.col("exact")).alias(
            "rel_err"
        )
    ).agg(F.max("rel_err").alias("max_typed_err"))
    return (
        exact_total.crossJoin(total)
        .crossJoin(rel)
        .select(
            F.col("n_types").cast("long").alias("n_types"),
            F.col("exact_total").cast("long").alias("exact_total_users"),
            F.lit(0.05).cast("double").alias("rel_err_bound"),
            (
                (F.col("max_typed_err") <= 0.05)
                & (
                    F.abs(F.col("est") - F.col("exact_total"))
                    / F.col("exact_total")
                    <= 0.05
                )
            ).alias("bound_met"),
        )
    )
