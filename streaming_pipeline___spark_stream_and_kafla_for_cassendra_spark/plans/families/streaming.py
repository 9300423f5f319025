"""Structured Streaming queries: availableNow runs of stateful and
stateless operators (windowed aggregation, dedup, stream-stream and
stream-static joins, arbitrary state via applyInPandasWithState,
incremental views and index maintenance) whose sinks are read back
and checked against batch DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core import (
    _TB_CAP,
    _TB_TOKEN_US,
    _WF_CASE,
    _WF_WINDOW_US,
    _ann_ivf_oracle,
    _await_stream,
    _hyperplane_sig_ctes,
    _minhash_banded_ctes,
    _recall_floor_frame,
    _register,
    _stable_avg4,
    _t,
)


# ---------------------------------------------------------------------------
# Structured Streaming entry (rows-only check; deterministic availableNow)
# ---------------------------------------------------------------------------

@_register(
    "streaming_hourly_events",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
             AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS event_count,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    "Real Structured Streaming run: parquet file stream → watermarked "
    "1-hour tumbling agg → memory sink, trigger(availableNow) — the A1 "
    "pipeline with the reference's missing watermark fixed (T3). "
    "Oracle-checked: the source is ONE parquet file, so availableNow "
    "processes exactly one data micro-batch in which the watermark is "
    "still epoch-zero (nothing can be late-dropped), and complete-mode "
    "output must therefore equal DuckDB's one-shot batch aggregate — "
    "the same kappa-parity argument as streaming_rollup_events",
    ("streaming", "agg", "timewindow"),
)
def streaming_hourly_events(spark, sf_dir):
    import uuid

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ...sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
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
    sink = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return spark.table(sink)


@_register(
    "streaming_dedup_events",
    "SELECT DISTINCT user_id FROM events",
    "Real Structured Streaming stateful dedup (T8): parquet file "
    "stream → watermark → dropDuplicatesWithinWatermark on user_id → "
    "memory sink via availableNow; emits each user's first arrival, "
    "state bounded by the watermark horizon instead of growing "
    "forever. Oracle-checked: with a single-file source, availableNow "
    "runs one data micro-batch, so no key's state can expire "
    "mid-stream and re-emit — each user_id appears exactly once, i.e. "
    "the batch DISTINCT",
    ("streaming", "dedup", "stateful"),
)
def streaming_dedup_events(spark, sf_dir):
    import uuid

    from ...sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return spark.table(sink)


@_register(
    "streaming_debounce_events",
    """
    WITH RECURSIVE emits AS (
      SELECT user_id, min(ts) AS ts FROM events GROUP BY user_id
      UNION ALL
      SELECT e.user_id,
             (SELECT min(x.ts) FROM events x
              WHERE x.user_id = e.user_id
                AND x.ts >= e.ts + INTERVAL 6 HOUR) AS ts
      FROM emits e
      WHERE (SELECT min(x.ts) FROM events x
             WHERE x.user_id = e.user_id
               AND x.ts >= e.ts + INTERVAL 6 HOUR) IS NOT NULL
    ),
    seq AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM emits
    )
    SELECT s.user_id AS key, s.ts AS ts,
           coalesce(ev.value, 0.0) AS value,
           CAST((SELECT count(*) FROM events x
                 WHERE x.user_id = s.user_id
                   AND x.ts > s.prev_ts AND x.ts < s.ts) AS BIGINT)
             AS suppressed_since_last
    FROM seq s JOIN events ev ON ev.user_id = s.user_id AND ev.ts = s.ts
    """,
    "Real Structured Streaming custom stateful op: per-user "
    "event-time debounce (applyInPandasWithState) over the events "
    "file stream — emits each user's first event then absorbs "
    "repeats inside a 6-hour cooldown, carrying the suppression "
    "count; the rate-limit/alerting primitive. Oracle-checked: the "
    "single-file availableNow run sorts each user's rows by event "
    "time (no duplicate (user_id, ts) in the fixture), so the emit "
    "chain is the greedy recurrence the DuckDB recursive CTE walks — "
    "anchor = first event, step = earliest event ≥ last emit + 6 h; "
    "suppressed = events strictly between consecutive emits",
    ("streaming", "stateful", "debounce", "python-stateful"),
)
def streaming_debounce_events(spark, sf_dir):
    import uuid

    from ...streaming.stateful import debounce

    from ...sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    out = debounce(
        stream,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        cooldown="6 hours",
        watermark="1 hour",
    )
    sink = f"stream_debounce_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return spark.table(sink)


@_register(
    "streaming_sessionize_events",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 4 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sno
      FROM marked),
    sess AS (
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(coalesce(value, 0.0)), 4) + 0.0 AS total_value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY max(ts) DESC) AS rev
      FROM numbered GROUP BY user_id, sno),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wmk FROM events)
    SELECT s.user_id, s.session_start, s.session_end, s.n_events,
           s.total_value
    FROM sess s CROSS JOIN wm
    WHERE s.rev > 1
       OR epoch_ms(s.session_end + INTERVAL 4 HOUR) < epoch_ms(wm.wmk)
    """,
    "applyInPandasWithState sessionization run as a real stream "
    "(availableNow over events.parquet): per-user gap sessions close "
    "intra-batch or by event-time timeout; append-mode emission "
    "(SURVEY §2.10 T8 — the stateful capability the reference lacks). "
    "Oracle-checked: the single-file run closes every non-final "
    "session intra-batch (strict microsecond gap compare), and the "
    "trailing no-data micro-batch fires event-time timeouts for "
    "final sessions whose ms-floored gap horizon the final watermark "
    "(max ts − 1 h) passed — exactly the gaps-and-islands twin "
    "filtered by rev>1 OR timeout-fired; sessions still open at "
    "stream end are correctly never emitted",
    ("streaming", "stateful", "session", "python-stateful"),
)
def streaming_sessionize_events(spark, sf_dir):
    import uuid

    from ...streaming.stateful import sessionize

    from ...sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    sessions = sessionize(stream, gap="4 hours", watermark="1 hour")
    sink = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 180)
    return spark.table(sink)


@_register(
    "streaming_rollup_events",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
             AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS event_count,
           round(sum(value), 4) AS total_value,
           min(value) AS min_value,
           max(value) AS max_value,
           floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000.0
             AS avg_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    "End-to-end continuous-aggregate run, oracle-checked: a REAL "
    "Structured Streaming query (parquet file stream, availableNow) "
    "folds mergeable per-window partials into a date-partitioned "
    "rollup lake table via foreachBatch (pkg/streaming/rollup.py), "
    "then the MATERIALIZED table is read back and must equal DuckDB's "
    "one-shot batch aggregate over the same input — proving the "
    "incremental-merge path (partials, partition-scoped rewrites, "
    "commit ledger) computes exactly the batch answer. Derived "
    "avg is computed at read time from the stored mergeable state",
    ("streaming", "rollup", "lake", "events"),
)
def streaming_rollup_events(spark, sf_dir):
    import tempfile

    from ...streaming.rollup import RollupTable, write_stream_to_rollup

    from ...sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="rollup_events_")
    table = RollupTable(path=os.path.join(base, "t"), keys=("event_type",))
    q = write_stream_to_rollup(
        stream,
        table,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    return table.read(spark).select(
        "window_start",
        "window_end",
        "event_type",
        F.col("cnt").alias("event_count"),
        F.round("sum_value", 4).alias("total_value"),
        "min_value",
        "max_value",
        _stable_avg4(F.col("sum_value"), F.col("cnt")).alias("avg_value"),
    )


@_register(
    "streaming_interval_join_events",
    """
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS purchase_id,
           round(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    "Stream-stream interval join (SURVEY T9 — absent from the "
    "reference): two watermarked file streams of the same events "
    "source, views inner-joined to same-user purchases landing within "
    "[view_ts, view_ts + 30 min], run to completion via availableNow "
    "and append memory sink; the watermark + range condition bound "
    "join state on both sides, and the single-batch run must equal "
    "DuckDB's batch interval join exactly",
    ("streaming", "join", "interval", "events"),
)
def streaming_interval_join_events(spark, sf_dir):
    import uuid

    from ...sources.tables import load_events_stream
    from ...streaming.joins import stream_stream_interval_join

    views = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
    )
    joined = stream_stream_interval_join(
        views,
        purchases,
        left_key="v_user",
        right_key="p_user",
        left_ts="view_ts",
        right_ts="purchase_ts",
        upper="30 minutes",
        left_watermark="1 hour",
        right_watermark="1 hour",
    )
    out = joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.round("value", 4).alias("purchase_value"),
    )
    sink = f"stream_ivjoin_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return spark.table(sink)


@_register(
    "streaming_enrich_user_segment",
    """
    SELECT coalesce(c.c_mktsegment, 'UNMATCHED') AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    "Stream-static broadcast enrichment (SURVEY J1 — the employees↔"
    "activities FK shape the reference never implements): the events "
    "file stream left-joins the static customer dimension via "
    "broadcast (stateless per micro-batch, stream rows never "
    "shuffle), then a grouped aggregate over the enriched stream "
    "runs in complete mode to a memory sink; equals the batch "
    "left-join aggregate",
    ("streaming", "join", "broadcast", "events"),
)
def streaming_enrich_user_segment(spark, sf_dir):
    import uuid

    from ...sources.tables import load_events_stream, load_table
    from ...streaming.joins import stream_static_enrich

    stream = load_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_key"), "c_mktsegment"
    )
    enriched = stream_static_enrich(
        stream, dim, on=F.col("user_id") == F.col("user_key"), how="left"
    )
    agg = (
        enriched.groupBy(
            F.coalesce("c_mktsegment", F.lit("UNMATCHED")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    sink = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return spark.table(sink)


@_register(
    "streaming_dedup_lsh_documents",
    f"""
    WITH {_minhash_banded_ctes()},
    dropped AS (
      SELECT DISTINCT y.doc_id
      FROM banded x JOIN banded y
        ON x.j = y.j AND x.slc = y.slc AND x.doc_id < y.doc_id
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    "Streaming near-dup dedup against a PERSISTENT MinHash-LSH band "
    "index (streaming/dedup.py): the documents file stream runs "
    "through a foreachBatch sink that drops arrivals colliding with "
    "any previously-accepted document (band equi-join on the parquet "
    "index, never a cross join), dedups within the batch by lowest "
    "id per bucket, appends survivors + their band rows, and commits "
    "a per-batch ledger marker so at-least-once replays are no-ops — "
    "the ingest-side tier of corpus dedup that the batch pair-miners "
    "cannot provide. ORACLE (new in r4): the single-file availableNow "
    "run is one deterministic batch over an empty index, where the "
    "owner rule makes a doc drop iff SOME lower-id doc shares a band "
    "slice — the DuckDB twin re-derives the bit-exact band slices "
    "(_minhash_banded_ctes) and anti-joins that dropped set; "
    "unshingleable docs pass through on both sides",
    ("streaming", "dedup", "lsh", "documents"),
)
def streaming_dedup_lsh_documents(spark, sf_dir):
    import tempfile

    from ...streaming.dedup import LshDedupSink, write_stream_dedup_lsh

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    base = tempfile.mkdtemp(prefix="stream_dedup_lsh_")
    sink = LshDedupSink(
        out_path=os.path.join(base, "out"),
        index_path=os.path.join(base, "idx"),
    )
    q = write_stream_dedup_lsh(
        stream,
        sink,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    return sink.read_survivors(spark).select("doc_id", "lang", "source")


@_register(
    "streaming_dedup_vectors_embeddings",
    f"""
    WITH {_hyperplane_sig_ctes()},
    neardup AS (
      SELECT DISTINCT b.vec_id
      FROM sig a
      JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.9
    )
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM neardup)
    """,
    "Embedding-space streaming dedup (streaming/dedup.py::"
    "VectorDedupSink): the embeddings file stream runs through a "
    "foreachBatch sink that drops arriving vectors whose cosine to "
    "any previously-accepted vector reaches 0.9 — sign-band "
    "collisions (the same hyperplane banding as lsh_topk) generate "
    "candidates via an equi-join on the persistent parquet band "
    "index, and every candidate is verified with an exact cosine "
    "before dropping (candidates-sized work); survivors and their "
    "bands append, commit ledger makes replays no-ops. The vector "
    "twin of the text ingest-dedup tier. ORACLE (new in r4): the "
    "single-file availableNow run is one deterministic batch over an "
    "empty index — a vector drops iff SOME lower-id vector shares a "
    "sign-band bucket AND verifies at cosine ≥ 0.9; the DuckDB twin "
    "replays the seeded hyperplanes as full-precision literals "
    "(_hyperplane_sig_ctes) and anti-joins that dropped set",
    ("streaming", "dedup", "similarity", "embeddings"),
)
def streaming_dedup_vectors_embeddings(spark, sf_dir):
    import tempfile

    from ...streaming.dedup import VectorDedupSink, write_stream_dedup_vectors

    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    base = tempfile.mkdtemp(prefix="stream_dedup_vec_")
    sink = VectorDedupSink(
        out_path=os.path.join(base, "out"),
        index_path=os.path.join(base, "idx"),
        threshold=0.9,
    )
    q = write_stream_dedup_vectors(
        stream,
        sink,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    return sink.read_survivors(spark).select("vec_id")


@_register(
    "ann_topk_ivf_indexed",
    _ann_ivf_oracle(k=5, n_probe=4),
    "Similarity search scale path #5: a PERSISTENT IVF index — the "
    "embeddings stream ingests via foreachBatch into parquet "
    "partitioned by coarse-quantizer list (quantizer trained once on "
    "the first batch, then frozen as part of the layout), and the "
    "search reads ONLY the probed list partitions (partition pruning "
    "does candidate selection before any vector bytes are scanned) "
    "then re-ranks exactly. ivf_topk rebuilds its lists per run; "
    "this is the index-at-rest deployment a 100 TB corpus needs. "
    "ORACLE (new in r4, was rows-only): the index trainer now uses "
    "the same replayable recipe as ivf_topk (lowest-id sample, "
    "first-k init, 10 Lloyd rounds; the single-file stream's first "
    "batch IS the table), so the same _kmeans_chain_ctes twin that "
    "checks ann_topk_ivf pins the indexed search bit-for-bit — "
    "including the frozen layout and pruned-partition read path",
    ("streaming", "similarity", "ann", "ivf", "embeddings"),
)
def ann_topk_ivf_indexed(spark, sf_dir):
    import tempfile

    from ...streaming.ann_index import IvfVectorIndex, write_stream_to_ivf_index

    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    base = tempfile.mkdtemp(prefix="ivf_index_")
    index = IvfVectorIndex(path=os.path.join(base, "idx"), n_lists=16)
    q = write_stream_to_ivf_index(
        stream,
        index,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    queries_df = spark.read.parquet(path).filter(F.col("vec_id") % 100 == 0)
    return index.search(spark, queries_df, k=5, n_probe=4)


@_register(
    "streaming_topk_users",
    """
    SELECT user_id, round(sum(value), 4) AS total_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 20
    """,
    "Streaming top-k leaderboard (complete mode): the events file "
    "stream feeds a running per-user value total; every trigger the "
    "COMPLETE result re-ranks and emits the top 20 spenders to the "
    "memory sink — the live-leaderboard pattern (sort+limit is legal "
    "on a complete-mode aggregate, unlike append streams). State is "
    "one row per user; the sort runs over #users, not events",
    ("streaming", "agg", "topk", "events"),
)
def streaming_topk_users(spark, sf_dir):
    import uuid

    from ...sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    totals = (
        stream.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 4).alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(20)
    )
    sink = f"stream_topk_{uuid.uuid4().hex[:8]}"
    q = (
        totals.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return spark.table(sink)


@_register(
    "streaming_ewma_users",
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
    "Streaming per-key lifetime EWMA (custom stateful operator, "
    "streaming/stateful.py::ewma_stream): two scalars of state per "
    "key carried across micro-batches, update-mode emissions, "
    "in-batch (ts, event_id) sort. The availableNow run's final "
    "emission per key is bit-identical to the batch fold "
    "(ewma_user_value), so the ORACLE is the same list_reduce SQL — "
    "a sequential recurrence checked exactly through the streaming "
    "path, kappa-architecture parity made testable",
    ("streaming", "stateful", "timeseries", "events", "python-stateful"),
)
def streaming_ewma_users(spark, sf_dir):
    import uuid

    from ...sources.tables import load_events_stream
    from ...streaming.stateful import ewma_stream

    stream = load_events_stream(spark, sf_dir)
    out = ewma_stream(stream)
    sink = f"stream_ewma_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    t = spark.table(sink)
    # keep each key's LAST emission (n_events grows monotonically)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("ewma_value", 6).alias("ewma_value"),
        )
    )


@_register(
    "streaming_anomaly_alerts",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id,
             coalesce(value, 0.0)::DOUBLE AS v
      FROM events
    ),
    seq AS (
      SELECT user_id,
             list(struct_pack(ts := ts, v := v)
                  ORDER BY ts, event_id) AS xs
      FROM ev GROUP BY user_id
    ),
    idx AS (
      SELECT user_id, xs,
             unnest(generate_series(1, len(xs))) AS i
      FROM seq
    ),
    st AS (
      SELECT user_id, xs[i].ts AS ts, xs[i].v AS v,
        list_reduce(
          list_prepend([0.0, 0.0, 0.0]::DOUBLE[],
                       [[x.v] FOR x IN xs[1:i-1]]),
          (acc, e) -> [
            acc[1] + 1.0,
            CASE WHEN acc[1] = 0.0 THEN e[1]
                 ELSE acc[2] + 0.1 * (e[1] - acc[2]) END,
            CASE WHEN acc[1] = 0.0 THEN 0.0
                 ELSE (1.0 - 0.1)
                      * (acc[3]
                         + (e[1] - acc[2]) * (0.1 * (e[1] - acc[2]))) END
          ]
        ) AS s
      FROM idx
    ),
    chk AS (
      SELECT user_id, ts, v, s[2] AS ew,
             sqrt(greatest(s[3], 0.0)) AS sd, s[1] AS n
      FROM st
    )
    SELECT user_id, ts,
           floor(v * 10000 + 0.5) / 10000.0 AS value,
           floor(ew * 10000 + 0.5) / 10000.0 AS expected,
           floor(abs(v - ew) / sd * 10000 + 0.5) / 10000.0
             AS deviation_sigmas
    FROM chk
    WHERE n >= 5.0 AND sd > 0.0 AND abs(v - ew) > 4.0 * sd
    """,
    "Streaming anomaly detection (stateful: per-key EWMA + "
    "exponentially-weighted variance, West's recurrence): emits a "
    "row ONLY when an event sits more than 4 EW-sigmas from its "
    "key's expected value after a 5-event warm-up. The alerting "
    "pattern the reference's console monitoring gestures at, as "
    "bounded per-key state; chain the debounce operator downstream "
    "for one-alert-per-incident. ORACLE (new in r4): availableNow "
    "on the single-file events stream is deterministic (one data "
    "micro-batch, per-key (ts, event_id) order), so each alert's "
    "pre-update state is a left fold over the key's value prefix — "
    "the DuckDB twin replays West's recurrence per prefix with "
    "list_reduce (identical IEEE op order; scalar CASE per state "
    "component) and must reproduce every alert row bit-for-bit",
    ("streaming", "stateful", "anomaly", "events", "python-stateful"),
)
def streaming_anomaly_alerts(spark, sf_dir):
    import uuid

    from ...sources.tables import load_events_stream
    from ...streaming.stateful import anomaly_stream

    stream = load_events_stream(spark, sf_dir)
    out = anomaly_stream(stream, alpha=0.1, z=4.0, min_obs=5)
    sink = f"stream_anom_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)

    def _r4(c):
        return F.floor(F.col(c) * 10000 + F.lit(0.5)) / F.lit(10000.0)

    return spark.table(sink).select(
        "user_id",
        "ts",
        _r4("value").alias("value"),
        _r4("expected").alias("expected"),
        _r4("deviation_sigmas").alias("deviation_sigmas"),
    )


@_register(
    "streaming_abandoned_views",
    """
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    mm AS (SELECT least((SELECT max(ts) FROM v),
                        (SELECT max(ts) FROM p)) AS m),
    vv AS (SELECT v.* FROM v, mm WHERE v.ts <= mm.m - INTERVAL 45 MINUTE)
    SELECT vv.user_id AS user_id, vv.event_id AS view_id,
           epoch_us(vv.ts) AS view_ts_us
    FROM vv
    WHERE NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = vv.user_id
        AND p.ts >= vv.ts
        AND p.ts <= vv.ts + INTERVAL 30 MINUTE
    )
    """,
    "Streaming ABANDONMENT detection — the stream-stream LEFT OUTER "
    "interval join's null path, oracle-checked: views with no "
    "same-user purchase within 30 minutes emit (with nulls) only "
    "when the joint watermark PROVES no match can arrive. Views are "
    "cut 45 min before the joint horizon (watermark 10 min + window "
    "30 min + margin) so every retained view's verdict is final, and "
    "the availableNow run equals DuckDB's batch NOT EXISTS exactly — "
    "eviction-timing semantics, not just join results",
    ("streaming", "join", "outer", "events"),
)
def streaming_abandoned_views(spark, sf_dir):
    import datetime
    import uuid

    from ...sources.tables import load_events_stream

    ev = _t(spark, sf_dir, "events")
    mm = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("m")
    ).collect()[0]["m"]
    cutoff = mm - datetime.timedelta(minutes=45)

    views = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
        .filter(F.col("view_ts") <= F.lit(cutoff))
    )
    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "leftOuter",
    )
    abandoned = joined.filter(F.col("purchase_id").isNull()).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
    )
    sink = f"abandoned_{uuid.uuid4().hex[:8]}"
    q = (
        abandoned.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return spark.table(sink)


@_register(
    "streaming_join_view_orders",
    """
    SELECT o_custkey AS custkey, o_orderkey, o_totalprice,
           c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "Incrementally-maintained materialized JOIN view (delta-join IVM "
    "— the join the reference never does, kept continuously): orders "
    "and customer arrive as two tagged streams through ONE "
    "foreachBatch; each micro-batch folds ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR into "
    "an append-only lake view with batch-id-named idempotent writes "
    "and a commit ledger, so the availableNow run's view equals the "
    "batch inner join EXACTLY (DuckDB oracle), without ever "
    "recomputing it",
    ("streaming", "ivm", "join", "materialized-view"),
)
def streaming_join_view_orders(spark, sf_dir):
    import tempfile

    from ...sources.tables import load_table_stream
    from ...streaming.ivm import JoinView, write_streams_to_join_view

    left = load_table_stream(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    right = load_table_stream(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    base = tempfile.mkdtemp(prefix="ivm_orders_")
    view = JoinView(path=os.path.join(base, "v"), on=("custkey",))
    q = write_streams_to_join_view(
        left,
        right,
        view,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    return view.read(spark).select(
        "custkey", "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Streaming as-of enrichment (persistent latest-state store)
# ---------------------------------------------------------------------------

@_register(
    "streaming_asof_enrich_purchases",
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
    "Streaming as-of enrichment — the per-fact 'latest prior state "
    "row' join Spark's stream-stream join cannot express (max-over-"
    "matches is not append-safe): purchases and views flow as ONE "
    "tagged-union stream through foreachBatch; each batch as-of joins "
    "its facts against (compacted latest-state ∪ batch views) and "
    "folds new state, with batch-id idempotent writes + commit "
    "ledger. The availableNow run equals the DuckDB ASOF LEFT JOIN "
    "truth exactly; multi-batch ordered replay is covered in "
    "tests/test_streaming_asof.py",
    ("streaming", "asof", "join", "stateful"),
)
def streaming_asof_enrich_purchases(spark, sf_dir):
    import os as _os
    import tempfile

    from ...sources.tables import load_events_stream
    from ...streaming.asof import AsofEnrichView, write_streams_to_asof_enrich

    stream = load_events_stream(spark, sf_dir)
    facts = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    updates = stream.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    base = tempfile.mkdtemp(prefix="asof_enrich_")
    view = AsofEnrichView(
        path=_os.path.join(base, "v"),
        on=("user_id",),
        left_ts="ts",
        right_ts="ts",
    )
    q = write_streams_to_asof_enrich(
        facts,
        updates,
        view,
        checkpoint_root=_os.path.join(base, "ck"),
        available_now=True,
    )

    _await_stream(q, 300)
    return view.read(spark).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_right").alias("view_ts"),
        F.col("event_id_right").alias("view_id"),
    )


@_register(
    "kappa_backfill_rollup_events",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
             AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS event_count,
           round(sum(value), 4) AS total_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    "Kappa backfill→stream handoff, oracle-proven exactly-once: the "
    "events table splits at a half-open cutover chosen MID-WINDOW "
    "(2024-01-16 00:30) — history folds into the rollup as one "
    "ledgered batch, the stream (availableNow) processes only rows "
    "at/after the cutover, and the materialized table must equal "
    "DuckDB's one-shot batch aggregate: nothing double-counted, "
    "nothing missed, and the straddling half-hour windows are "
    "correct because BOTH sides contribute mergeable partials to "
    "the same rollup row (streaming/rollup.py::backfill_then_stream)",
    ("streaming", "rollup", "backfill", "kappa", "events"),
)
def kappa_backfill_rollup_events(spark, sf_dir):
    import datetime as dt
    import tempfile

    from ...sources.tables import load_events_stream, load_table
    from ...streaming.rollup import RollupTable, backfill_then_stream

    batch = load_table(spark, sf_dir, "events")
    stream = load_events_stream(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="kappa_rollup_")
    table = RollupTable(path=os.path.join(base, "t"), keys=("event_type",))
    cutover = dt.datetime(2024, 1, 16, 0, 30)
    q = backfill_then_stream(
        table,
        history=batch,
        stream=stream,
        cutover=cutover,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    return table.read(spark).select(
        "window_start",
        "window_end",
        "event_type",
        F.col("cnt").alias("event_count"),
        F.round("sum_value", 4).alias("total_value"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Watermark-delay audit: events that would be dropped per delay candidate
# ---------------------------------------------------------------------------

_WM_DELAYS = (60, 300, 900, 3600)


@_register(
    "watermark_delay_audit_events",
    f"""
    WITH ordered AS (
      SELECT user_id,
             CAST(ts AS TIMESTAMP) AS ts,
             max(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS high_water
      FROM events
    ),
    late AS (
      SELECT date_diff('second', ts, high_water) AS lateness
      FROM ordered
    ),
    delays AS (SELECT unnest([{", ".join(str(d) for d in _WM_DELAYS)}])
                 AS delay_s),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM late)
    SELECT CAST(d.delay_s AS BIGINT) AS delay_s,
           t.n_events,
           CAST(coalesce(sum(CASE WHEN l.lateness > d.delay_s
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(CASE WHEN l.lateness > d.delay_s
                                  THEN 1 ELSE 0 END), 0) * 1000000
                // t.n_events AS BIGINT) AS dropped_ppm
    FROM delays d
    CROSS JOIN tot t
    CROSS JOIN late l
    GROUP BY 1, 2
    """,
    "Watermark-delay audit — the measurement that PICKS the "
    "withWatermark() delay instead of guessing it: per user stream "
    "(event_id as arrival order), an event's lateness is how far "
    "the user's running event-time high-water mark has already "
    "passed it; for each candidate delay (1m/5m/15m/1h) the audit "
    "counts events a stateful operator would drop, in ppm. This is "
    "the data-driven answer to the reference's missing-watermark "
    "bug (SURVEY T3): the per-user window shuffles once on user_id "
    "and the delay sweep is a 4-literal broadcast over the "
    "lateness distribution. Exact integer second arithmetic.",
    ("streaming", "watermark", "audit", "events"),
)
def watermark_delay_audit_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ordered = e.select(
        F.col("ts").cast("timestamp").alias("tts"),
        F.max(F.col("ts").cast("timestamp")).over(w).alias("high_water"),
    )
    late = ordered.select(
        (
            F.col("high_water").cast("long") - F.col("tts").cast("long")
        ).alias("lateness")
    )
    counts = late.agg(
        F.count("*").alias("n_events"),
        *[
            F.sum(F.when(F.col("lateness") > d, 1).otherwise(0)).alias(
                f"d{d}"
            )
            for d in _WM_DELAYS
        ],
    ).localCheckpoint(eager=False)  # one windowed scan feeds all 4 rows
    out = None
    for d in _WM_DELAYS:
        one = counts.select(
            F.lit(d).cast("long").alias("delay_s"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col(f"d{d}").cast("long").alias("n_dropped"),
            F.expr(f"d{d} * 1000000 div n_events").cast("long").alias(
                "dropped_ppm"
            ),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Streaming twin: token-bucket limiter as a live stateful operator
# ---------------------------------------------------------------------------

@_register(
    "streaming_rate_limiter",
    f"""
    WITH arrivals AS (
      SELECT user_id,
             list(epoch_us(CAST(ts AS TIMESTAMP))
                  ORDER BY ts, event_id) AS ts_us
      FROM events GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, CAST(len(ts_us) AS BIGINT) AS n_events,
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
    SELECT user_id, n_events,
           CAST(st[3] AS BIGINT) AS accepted,
           CAST(st[4] AS BIGINT) AS rejected
    FROM folded
    """,
    "LIVE streaming token-bucket limiter (custom stateful operator, "
    "streaming/stateful.py::rate_limit_stream): four integers of "
    "state per key carried across micro-batches, update-mode "
    "emissions of running accepted/rejected counts — the enforcing "
    "twin of the batch `rate_limiter_token_bucket` audit. Under "
    "availableNow a single-file parquet stream folds each key in "
    "(ts, event_id) order exactly like the batch recurrence, so "
    "the ORACLE is the same per-user integer fold — streaming "
    "semantics checked bit-exactly through the real "
    "applyInPandasWithState path.",
    ("streaming", "stateful", "rate-limit", "events", "python-stateful"),
)
def streaming_rate_limiter(spark, sf_dir):
    import uuid

    from pyspark.sql import Window

    from ...sources.tables import load_events_stream
    from ...streaming.stateful import rate_limit_stream

    stream = load_events_stream(spark, sf_dir)
    out = rate_limit_stream(
        stream, capacity_tokens=_TB_CAP, token_us=_TB_TOKEN_US
    )
    sink = f"stream_rl_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    t = spark.table(sink)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "accepted", "rejected")
    )


# ---------------------------------------------------------------------------
# Streaming windowFunnel (stateful twin of window_funnel_users)
# ---------------------------------------------------------------------------


@_register(
    "streaming_window_funnel",
    f"""
    WITH coded AS (
      SELECT user_id,
             list([CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT),
                   CAST({_WF_CASE} AS BIGINT)]
                  ORDER BY ts, event_id) AS xs
      FROM events
      WHERE {_WF_CASE} > 0
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(xs) AS BIGINT) AS n_funnel_events,
           CAST(list_reduce(
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
               ])[3] AS BIGINT) AS max_stage
    FROM coded
    """,
    "LIVE streaming windowFunnel (custom stateful operator, "
    "streaming/stateful.py::window_funnel_stream): the [stage, "
    "start, best] integer recurrence of `window_funnel_users` "
    "carried across micro-batches per user, update-mode emissions "
    "of the running funnel depth — the real-time 'how deep is this "
    "user right now' signal. Under availableNow the single-file "
    "parquet stream folds each key in (ts, event_id) order exactly "
    "like the batch fold, so the ORACLE is the identical per-user "
    "recurrence — a second stateful semantic (after "
    "`streaming_rate_limiter`) proven bit-exactly through the real "
    "applyInPandasWithState path.",
    ("streaming", "stateful", "funnel", "events", "python-stateful"),
)
def streaming_window_funnel(spark, sf_dir):
    import uuid

    from pyspark.sql import Window

    from ...sources.tables import load_events_stream
    from ...streaming.stateful import window_funnel_stream

    stream = load_events_stream(spark, sf_dir)
    out = window_funnel_stream(stream, window_us=_WF_WINDOW_US)
    sink = f"stream_wf_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    t = spark.table(sink)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_funnel_events"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_funnel_events", "max_stage")
    )


@_register(
    "ann_ivf_indexed_recall_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(5 AS INTEGER) AS k,
           CAST(0.5 AS DOUBLE) AS recall_floor,
           TRUE AS floor_met
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    "Driver-visible quality gate for the PERSISTENT IVF index tier "
    "(ann_topk_ivf_indexed, the index-at-rest deployment): recall@5 "
    "of a search against a freshly stream-ingested partitioned index "
    "(quantizer frozen from the first batch, n_probe=4) vs the exact "
    "brute-force top-5 must clear the pinned 0.5 floor. Covers what "
    "the in-memory ivf floor cannot: the partition layout, the "
    "frozen-quantizer assignment path, and partition-pruned reads "
    "all sit between this query and its floor — a broken index "
    "layout scores ~0.001. Oracle pins the expectation (k-means "
    "training makes an exact twin impractical)",
    ("streaming", "similarity", "ann", "ivf", "evaluation",
     "embeddings"),
)
def ann_ivf_indexed_recall_floor(spark, sf_dir):
    import os
    import tempfile

    from ...streaming.ann_index import (
        IvfVectorIndex,
        write_stream_to_ivf_index,
    )

    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    base = tempfile.mkdtemp(prefix="ivf_floor_")
    index = IvfVectorIndex(path=os.path.join(base, "idx"), n_lists=16)
    q = write_stream_to_ivf_index(
        stream,
        index,
        checkpoint_root=os.path.join(base, "ck"),
        available_now=True,
    )
    _await_stream(q, 300)
    return _recall_floor_frame(
        spark,
        sf_dir,
        lambda emb, qs: index.search(spark, qs, k=5, n_probe=4),
        floor=0.5,
    )
