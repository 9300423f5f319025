"""Training-data preparation: deterministic sampling and splits,
mixture reweighting, packing and chunking, coresets, projections and
drift of embedding sets, and feature encodings.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import token_count, tokens
from ...core import _r6, _register, _stable_ratio6, _t


# ---------------------------------------------------------------------------
# Deterministic sampling / splits (training-data ops): membership is
# md5(salt||key)-hash-based — reproducible across runs, retries, and
# engines, which is exactly what the oracle gate proves.
# ---------------------------------------------------------------------------


@_register(
    "sample_lineitem_deterministic",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    WHERE substr(md5('v1' || CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)), 1, 8) < '19999999'
    GROUP BY l_returnflag
    """,
    "Deterministic 10% sample by composite-key hash: no rand() (which "
    "re-evaluates on task retry), no shuffle — a scan-local filter "
    "both engines reproduce bit-for-bit",
    ("sampling", "training"),
)
def sample_lineitem_deterministic(spark, sf_dir):
    from ....operators.sampling import deterministic_sample

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_sample_key",
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    return (
        deterministic_sample(li, "_sample_key", 0.1, salt="v1")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


@_register(
    "train_test_split_documents",
    """
    SELECT source,
           CASE WHEN substr(md5('split-v1' || CAST(doc_id AS VARCHAR)),
                            1, 8) < '0ccccccc'
                THEN 'test' ELSE 'train' END AS split,
           count(*) AS n_docs,
           cast(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
    "Key-stable train/test split (5% test): a document's assignment "
    "depends only on md5(salt||doc_id), so every table keyed by "
    "doc_id lands in the same split across runs and engines",
    ("sampling", "split", "training", "documents"),
)
def train_test_split_documents(spark, sf_dir):
    from ....operators.sampling import train_test_split

    docs = _t(spark, sf_dir, "documents")
    return (
        train_test_split(docs, "doc_id", test_fraction=0.05)
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@_register(
    "stratified_sample_events",
    """
    SELECT event_type, count(*) AS n_sampled
    FROM events
    WHERE substr(md5('strata-v1' || CAST(event_id AS VARCHAR)), 1, 8)
          < CASE event_type
              WHEN 'click'    THEN '0ccccccc'
              WHEN 'view'     THEN '19999999'
              WHEN 'purchase' THEN 'g'
              ELSE '00000000' END
    GROUP BY event_type
    """,
    "Stratified deterministic sampling: per-stratum hash thresholds "
    "in one scan-local CASE filter (downsample dominant event types, "
    "keep all rare purchases) — the training-data rebalance pattern",
    ("sampling", "stratified", "training", "events"),
)
def stratified_sample_events(spark, sf_dir):
    from ....operators.sampling import stratified_sample

    e = _t(spark, sf_dir, "events")
    sampled = stratified_sample(
        e,
        "event_type",
        {"click": 0.05, "view": 0.1, "purchase": 1.0},
        key_col="event_id",
    )
    return sampled.groupBy("event_type").agg(F.count("*").alias("n_sampled"))


@_register(
    "domain_mix_reweight",
    """
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n, 1.0 / (SELECT count(*) FROM counts) AS w FROM counts),
    r AS (
      SELECT source, n, w,
             (SELECT min(n / w) FROM w) * w / n AS rate
      FROM w
    )
    SELECT d.source,
           count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM documents d JOIN r ON d.source = r.source
    WHERE r.rate >= 1.0
       OR substr(md5('mix-v1' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          < printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT))
    GROUP BY d.source
    """,
    "Domain mixture reweighting: downsample every source to the "
    "uniform-mixture feasibility bound T=min(n_s/w_s) via per-stratum "
    "deterministic hash rates — tiny broadcast agg + scan-local "
    "filter, no big shuffle, retry-stable (operators/sampling.py::"
    "mixture_reweight)",
    ("sampling", "training", "documents"),
)
def domain_mix_reweight(spark, sf_dir):
    from ....operators.sampling import mixture_reweight

    d = _t(spark, sf_dir, "documents")
    kept = mixture_reweight(d, "source", "doc_id", salt="mix-v1")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


@_register(
    "sequence_pack_documents",
    """
    WITH t AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT lang,
           CAST(floor((cum - 1) / 512.0) AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           floor(sum(n_tokens) * 1.0 / 512 * 1000000 + 0.5) / 1000000.0
             AS fill_ratio
    FROM c
    GROUP BY lang, bin_id
    """,
    "LLM sequence packing: contiguous-fill binning of documents into "
    "512-token training sequences via a per-language ordered cumsum — "
    "the distributed-scale packing strategy (exact first-fit is "
    "inherently sequential; contiguous fill is one window per "
    "partition, parallel across languages/shards)",
    ("packing", "training", "documents", "window"),
)
def sequence_pack_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = d.select("lang", "doc_id", token_count(F.col("text")).alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    binned = c.withColumn(
        "bin_id", F.floor((F.col("cum") - 1) / F.lit(512.0)).cast("bigint")
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        _stable_ratio6(F.sum("n_tokens") * F.lit(1.0), F.lit(512)).alias(
            "fill_ratio"
        ),
    )


@_register(
    "chunk_documents_sliding",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 16, 1) + 1, 16)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / 16 AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(toks, start, start + 31)) AS INTEGER)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, start, start + 31), ' '))
             AS chunk_hash
    FROM s
    """,
    "Sliding-window chunking for RAG/pretraining: 32-token windows "
    "with stride 16 (50% overlap), chunk identity = md5 of the joined "
    "window. Pure per-row array expansion — zero shuffle, "
    "embarrassingly parallel at any corpus size",
    ("text", "chunking", "training", "documents"),
)
def chunk_documents_sliding(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    starts = F.sequence(
        F.lit(1), F.greatest(n - 16, F.lit(1)), F.lit(16)
    )
    s = t.select("doc_id", "toks", F.explode(starts).alias("start"))
    chunk = F.slice(F.col("toks"), F.col("start"), 32)
    return s.select(
        "doc_id",
        ((F.col("start") - 1) / 16).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
    )


_RES_SALT = "res-v1"


@_register(
    "reservoir_sample_suppliers",
    f"""
    SELECT s_nationkey, s_suppkey, s_name
    FROM (
      SELECT s_nationkey, s_suppkey, s_name,
             row_number() OVER (
               PARTITION BY s_nationkey
               ORDER BY substr(md5('{_RES_SALT}' ||
                               CAST(s_suppkey AS VARCHAR)), 1, 8),
                        CAST(s_suppkey AS VARCHAR)
             ) AS rn
      FROM supplier
    )
    WHERE rn <= 3
    """,
    "Deterministic per-group reservoir: a uniform 3-supplier sample "
    "of every nation chosen by md5 hash order — rerun-stable (no "
    "rand() retry hazard), engine-portable (oracle reproduces the "
    "exact membership), one exchange. Operator: "
    "operators/sampling.py::reservoir_per_group",
    ("sampling", "reservoir"),
)
def reservoir_sample_suppliers(spark, sf_dir):
    from ....operators.sampling import reservoir_per_group

    s = _t(spark, sf_dir, "supplier")
    return reservoir_per_group(
        s, "s_nationkey", 3, "s_suppkey", salt=_RES_SALT
    ).select("s_nationkey", "s_suppkey", "s_name")


@_register(
    "mixture_temperature_weights",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(len(list_filter(string_split_regex(lower(text),
                                                         '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    w AS (SELECT lang, n_docs, n_tokens,
                 sqrt(CAST(n_tokens AS DOUBLE)) AS wt
          FROM counts),
    tot AS (
      SELECT list_reduce(list(wt ORDER BY lang), (a, b) -> a + b) AS z
      FROM w
    )
    SELECT lang, n_docs, n_tokens,
           round(wt / z, 6) AS sample_weight,
           round(wt / z * 100000, 4) AS expected_docs_per_100k
    FROM w, tot
    """,
    "Temperature-based mixture reweighting (T=0.5, the multilingual-"
    "corpus upsampling rule w_i ∝ p_i^0.5): per-language token counts "
    "→ sqrt weights → normalized sampling shares. sqrt is correctly "
    "rounded IEEE (unlike pow/exp), and the normalizer is computed as "
    "an ORDERED in-row fold over the per-group weights — the "
    "float-sum order is pinned on both engines, so a global "
    "normalization over doubles still hash-matches bit-for-bit. "
    "Group-cardinality data only after the first agg: scales with "
    "#languages, not corpus size",
    ("sampling", "mixture", "documents"),
)
def mixture_temperature_weights(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    w = counts.withColumn("wt", F.sqrt(F.col("n_tokens").cast("double")))
    # deterministic normalizer: fold the lang-sorted weight list
    tot = w.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "wt"))),
                lambda s: s["wt"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("z")
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("wt") / F.col("z"), 6).alias("sample_weight"),
        F.round(F.col("wt") / F.col("z") * 100000, 4).alias(
            "expected_docs_per_100k"
        ),
    )


@_register(
    "shard_manifest_documents",
    """
    WITH sized AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM sized
    ),
    assigned AS (
      SELECT doc_id, n_tokens,
             CASE WHEN (r // 8) % 2 = 0 THEN r % 8
                  ELSE 7 - (r % 8) END AS shard
      FROM ranked
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM assigned GROUP BY 1
    """,
    "Training-shard manifest: docs ranked by token count and dealt "
    "into 8 shards in SNAKE order (even rank-blocks deal 0→7, odd "
    "deal 7→0), the classic greedy balancer that keeps per-shard "
    "token totals within one max-doc of each other — vs naive "
    "round-robin which systematically overloads shard 0. Output is "
    "the per-shard manifest (doc/token totals). The oracle states "
    "the rank with a global row_number; the ENGINE ranks with "
    "operators/scale.py::dense_ids — range-partitioned parallel "
    "sort + partition-offset ids, same total order, no single-task "
    "sort in the plan — and the shard arithmetic is unchanged",
    ("sampling", "sharding", "documents"),
)
def shard_manifest_documents(spark, sf_dir):
    from ....operators.scale import dense_ids

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    # dense_ids orders ascending; negate to rank token-count DESC,
    # doc_id ASC — (n_tokens, doc_id) is unique so ids are stable
    ranked = dense_ids(
        sized.withColumn("_neg", -F.col("n_tokens")), "_neg", "doc_id",
        id_col="r",
    ).drop("_neg")
    shard = F.when(
        (F.col("r") / 8).cast("long") % 2 == 0, F.col("r") % 8
    ).otherwise(7 - (F.col("r") % 8))
    return (
        ranked.withColumn("shard", shard.cast("int"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_doc_tokens"),
            F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        )
    )


@_register(
    "priority_sample_documents",
    """
    WITH h AS (
      SELECT lang, doc_id, n_chars,
             ('0x' || substr(md5('prio-v1' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT AS hv
      FROM documents
    ),
    q AS (
      SELECT lang, doc_id, n_chars,
             CAST(n_chars AS DOUBLE)
               / (CAST(hv + 1 AS DOUBLE) / 4294967296.0) AS pri
      FROM h
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           round(pri, 4) AS priority
    FROM (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY pri DESC, doc_id) AS rn
          FROM q)
    WHERE rn <= 5
    """,
    "Deterministic WEIGHTED sampling without replacement (priority "
    "sampling, Duffield/Lund/Thorup): u = (md5-hash(key)+1)/2^32, "
    "priority = weight/u, keep the per-language top-5 priorities. "
    "Inclusion probability ∝ n_chars, yet the sample is a pure "
    "function of (key, salt, weight) — task retries, reruns and the "
    "DuckDB oracle all reproduce it exactly, which rand()-weighted "
    "reservoir methods cannot promise. Complements the uniform "
    "deterministic_sample / reservoir_per_group family",
    ("sampling", "weighted", "documents"),
)
def priority_sample_documents(spark, sf_dir):
    from ....operators.sampling import priority_sample

    d = _t(spark, sf_dir, "documents")
    out = priority_sample(
        d.select("lang", "doc_id", "n_chars"),
        key_col="doc_id",
        weight_col="n_chars",
        k=5,
        group_col="lang",
    )
    return out.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round("priority", 4).alias("priority"),
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
    from ....operators.scale import spread_for_compute

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
# Stratified k-fold assignment (deterministic, rerun-stable)
# ---------------------------------------------------------------------------

_KFOLD_SALT = "fold-v1"
_KFOLDS = 5


@_register(
    "stratified_kfold_documents",
    f"""
    WITH assigned AS (
      SELECT lang,
             CAST(CAST(('0x' || substr(md5('{_KFOLD_SALT}'
                         || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                  % {_KFOLDS} AS INTEGER) AS fold,
             CAST(len(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT lang, fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY 1, 2
    """,
    "Stratified k-fold assignment for cross-validation: every "
    "document lands in fold md5(salt‖doc_id)[0:8] mod 5 — a pure "
    "function of the key, so folds are rerun-stable, join-free, and "
    "identical on any engine or cluster size (no rand(), no global "
    "sort). Emitted as the per-(stratum=lang, fold) doc/token census "
    "that validates balance. Scan-local assignment; one small "
    "aggregate.",
    ("ml-prep", "sampling", "documents"),
)
def stratified_kfold_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_KFOLD_SALT), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _KFOLDS
    ).cast("int")
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    ).cast("long")
    return (
        d.select("lang", fold.alias("fold"), n_tok.alias("n_tok"))
        .groupBy("lang", "fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Decision-tree split screening: Gini impurity over decile thresholds
# ---------------------------------------------------------------------------

@_register(
    "gini_split_screen_documents",
    """
    WITH base AS (
      SELECT n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    arr AS (
      SELECT list(n_chars ORDER BY n_chars) AS xs,
             CAST(count(*) AS BIGINT) AS n
      FROM base
    ),
    cand AS (
      SELECT DISTINCT xs[CAST(greatest(1, (i * n) // 10) AS BIGINT)] AS thr
      FROM arr CROSS JOIN (SELECT unnest(range(1, 10)) AS i)
    ),
    split AS (
      SELECT c.thr,
             CAST(count(*) FILTER (WHERE b.n_chars <= c.thr) AS BIGINT) AS nl,
             CAST(sum(b.y) FILTER (WHERE b.n_chars <= c.thr) AS BIGINT) AS yl,
             CAST(count(*) FILTER (WHERE b.n_chars > c.thr) AS BIGINT) AS nr,
             CAST(sum(b.y) FILTER (WHERE b.n_chars > c.thr) AS BIGINT) AS yr,
             CAST(count(*) AS BIGINT) AS n
      FROM base b CROSS JOIN cand c
      GROUP BY c.thr
    )
    SELECT CAST(thr AS BIGINT) AS threshold, nl AS n_left, nr AS n_right,
           floor(((nl / CAST(n AS DOUBLE))
                  * (1 - (yl / CAST(nl AS DOUBLE)) * (yl / CAST(nl AS DOUBLE))
                       - ((nl - yl) / CAST(nl AS DOUBLE))
                         * ((nl - yl) / CAST(nl AS DOUBLE)))
                + (nr / CAST(n AS DOUBLE))
                  * (1 - (yr / CAST(nr AS DOUBLE)) * (yr / CAST(nr AS DOUBLE))
                       - ((nr - yr) / CAST(nr AS DOUBLE))
                         * ((nr - yr) / CAST(nr AS DOUBLE))))
                 * 1000000 + 0.5) / 1000000.0 AS weighted_gini
    FROM split
    WHERE nl > 0 AND nr > 0
    """,
    "Decision-tree split screening: candidate thresholds = the 9 "
    "deciles of n_chars (exact order statistics by sorted-array "
    "indexing, the repo-standard percentile_disc idiom), each scored "
    "by the weighted Gini impurity of the (lang='en') target it "
    "induces. The candidate grid broadcasts against ONE scan of the "
    "base table (9 conditional-count cells per row, map-side "
    "combined) — the inner loop of distributed tree training "
    "expressed as a single multi-aggregate pass. All cells are exact "
    "integers; the impurity is one pinned IEEE expression.",
    ("ml-prep", "stats", "documents"),
)
def gini_split_screen_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "n_chars", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    arr = base.agg(
        F.array_sort(F.collect_list("n_chars")).alias("xs"),
        F.count("*").alias("n"),
    )
    idx = F.explode(F.sequence(F.lit(1), F.lit(9))).alias("i")
    cand = (
        arr.select("xs", "n", idx)
        .select(
            F.element_at(
                F.col("xs"),
                F.greatest(
                    F.lit(1), F.floor(F.col("i") * F.col("n") / 10)
                ).cast("int"),
            ).alias("thr")
        )
        .distinct()
    )
    split = (
        base.crossJoin(F.broadcast(cand))
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("n_chars") <= F.col("thr"), 1).otherwise(0)).alias(
                "nl"
            ),
            F.sum(F.when(F.col("n_chars") <= F.col("thr"), F.col("y")).otherwise(0))
            .alias("yl"),
            F.sum(F.when(F.col("n_chars") > F.col("thr"), 1).otherwise(0)).alias(
                "nr"
            ),
            F.sum(F.when(F.col("n_chars") > F.col("thr"), F.col("y")).otherwise(0))
            .alias("yr"),
            F.count("*").alias("n"),
        )
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
    )
    nd = F.col("n").cast("double")
    nld = F.col("nl").cast("double")
    nrd = F.col("nr").cast("double")
    pl = F.col("yl") / nld
    ql = (F.col("nl") - F.col("yl")) / nld
    pr = F.col("yr") / nrd
    qr = (F.col("nr") - F.col("yr")) / nrd
    gini = (F.col("nl") / nd) * (1 - pl * pl - ql * ql) + (F.col("nr") / nd) * (
        1 - pr * pr - qr * qr
    )
    return split.select(
        F.col("thr").cast("long").alias("threshold"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        _r6(gini).alias("weighted_gini"),
    )


# ---------------------------------------------------------------------------
# Length-distribution matching: per-source decile reweighting
# ---------------------------------------------------------------------------

@_register(
    "length_match_reweight",
    """
    WITH binned AS (
      SELECT source,
             CAST(least(n_chars // 40, 9) AS INTEGER) AS len_bin
      FROM documents
    ),
    per AS (
      SELECT source, len_bin, CAST(count(*) AS BIGINT) AS n
      FROM binned GROUP BY 1, 2
    ),
    src AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM per GROUP BY 1),
    tgt AS (
      SELECT len_bin, CAST(sum(n) AS BIGINT) AS n_bin FROM per GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM per)
    SELECT p.source, p.len_bin, p.n,
           floor(p.n / CAST(s.n_src AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS source_share,
           floor(t.n_bin / CAST(x.n_tot AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS target_share,
           floor((t.n_bin / CAST(x.n_tot AS DOUBLE))
                 / (p.n / CAST(s.n_src AS DOUBLE)) * 1000000 + 0.5)
             / 1000000.0 AS weight
    FROM per p
    JOIN src s USING (source)
    JOIN tgt t USING (len_bin)
    CROSS JOIN tot x
    """,
    "Length-distribution matching: importance weights that reshape "
    "each source's document-length histogram (10 fixed 40-char bins) "
    "onto the corpus-wide target distribution — w(source,bin) = "
    "target_share / source_share, the importance-resampling "
    "companion to `domain_mix_reweight` (which balances domains, not "
    "shapes). One map-side-combined (source,bin) count; shares and "
    "weights are pinned divisions of exact integers; the weight "
    "table is sources×10 rows, broadcast-sized for the downstream "
    "scan-local sampler at any corpus scale.",
    ("ml-prep", "sampling", "documents"),
)
def length_match_reweight(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    len_bin = F.least(F.floor(F.col("n_chars") / 40), F.lit(9).cast("long")).cast(
        "int"
    )
    per = d.select("source", len_bin.alias("len_bin")).groupBy(
        "source", "len_bin"
    ).agg(F.count("*").alias("n"))
    src = per.groupBy("source").agg(F.sum("n").alias("n_src"))
    tgt = per.groupBy("len_bin").agg(F.sum("n").alias("n_bin"))
    tot = per.agg(F.sum("n").alias("n_tot"))
    src_share = F.col("n") / F.col("n_src").cast("double")
    tgt_share = F.col("n_bin") / F.col("n_tot").cast("double")
    return (
        per.join(F.broadcast(src), "source")
        .join(F.broadcast(tgt), "len_bin")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "len_bin",
            F.col("n").cast("long").alias("n"),
            _r6(src_share).alias("source_share"),
            _r6(tgt_share).alias("target_share"),
            _r6(tgt_share / src_share).alias("weight"),
        )
    )


_NEYMAN_N = 1000


@_register(
    "neyman_allocation_events",
    f"""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)
                      * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    w AS (
      SELECT event_type, n,
             sqrt((s2 - s1 * (s1 / CAST(n AS DOUBLE))) / (n - 1)) AS sd,
             n * sqrt((s2 - s1 * (s1 / CAST(n AS DOUBLE))) / (n - 1)) AS wt
      FROM s WHERE n > 1
    ),
    tot AS (
      SELECT list_reduce(list_prepend(0.0, list(wt ORDER BY event_type)),
                         (a, x) -> a + x) AS big_w
      FROM w
    ),
    q AS (
      SELECT event_type, n, sd, wt,
             floor({_NEYMAN_N} * wt / t.big_w) AS fu,
             {_NEYMAN_N} * wt / t.big_w - floor({_NEYMAN_N} * wt / t.big_w)
               AS rem
      FROM w CROSS JOIN tot t
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, event_type ASC) AS rk,
             CAST({_NEYMAN_N} - sum(fu) OVER () AS BIGINT) AS leftover
      FROM q
    )
    SELECT event_type,
           n AS stratum_size,
           floor(sd * 10000 + 0.5) / 10000.0 AS sd_cents,
           CAST(fu + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS n_sample
    FROM ranked
    """,
    "Neyman optimal allocation for a stratified sample of "
    f"{_NEYMAN_N}: each event-type stratum gets n_h ∝ N_h·σ_h "
    "(minimum-variance allocation for estimating the overall mean), "
    "with σ_h from EXACT integer-cent moments and the fractional "
    "quotas settled by the largest-remainder rule so samples sum to "
    "exactly the budget. The Σ N_h·σ_h normalizer folds in "
    "event-type order (the repo's order-pinned float discipline), "
    "making every quota — and therefore the allocation — "
    "bit-deterministic across engines and parallelism. One map-side-"
    "combined scan; everything after is strata-sized. The design-"
    "stage companion to `stratified_sample_events` (which executes a "
    "fixed-rate plan) and `largest_remainder_allocation` (pure "
    "proportional rationing).",
    ("stats", "sampling", "design", "events"),
)
def neyman_allocation_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100).cast("long")
    s = (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("s1"),
            F.sum(cents * cents).alias("s2"),
        )
        .filter(F.col("n") > 1)
    )
    var = (F.col("s2") - F.col("s1") * (F.col("s1") / F.col("n").cast("double"))) / (
        F.col("n") - 1
    )
    w = s.select(
        "event_type",
        "n",
        F.sqrt(var).alias("sd"),
        (F.col("n") * F.sqrt(var)).alias("wt"),
    )
    tot = w.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("event_type"), F.col("wt").alias("v")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("big_w")
    )
    quota = F.lit(_NEYMAN_N) * F.col("wt") / F.col("big_w")
    q = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "sd",
        F.floor(quota).alias("fu"),
        (quota - F.floor(quota)).alias("rem"),
    )
    ranked = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("event_type")))
        .alias("rk"),
        (F.lit(_NEYMAN_N) - F.sum("fu").over(Window.partitionBy())).alias(
            "leftover"
        ),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return ranked.select(
        "event_type",
        F.col("n").cast("long").alias("stratum_size"),
        r4(F.col("sd")).alias("sd_cents"),
        (
            F.col("fu")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_sample"),
    )


# ---------------------------------------------------------------------------
# Sequence-length bucketing / padding economics
# ---------------------------------------------------------------------------

_SEQ_STEP = 16
_SEQ_CAP = 64


@_register(
    "padding_waste_buckets",
    f"""
    WITH t AS (
      SELECT len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> x <> '')) AS n_tok
      FROM documents
    ),
    b AS (
      SELECT CASE WHEN n_tok >= {_SEQ_CAP} THEN {_SEQ_CAP}
                  ELSE CAST(ceil(n_tok / {_SEQ_STEP}.0) * {_SEQ_STEP}
                       AS BIGINT) END AS bucket,
             CASE WHEN n_tok >= {_SEQ_CAP} THEN {_SEQ_CAP}
                  ELSE n_tok END AS kept,
             CASE WHEN n_tok > {_SEQ_CAP} THEN n_tok - {_SEQ_CAP}
                  ELSE 0 END AS truncated
      FROM t WHERE n_tok > 0
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS kept_tokens,
           CAST(sum(bucket - kept) AS BIGINT) AS pad_tokens,
           CAST(sum(truncated) AS BIGINT) AS truncated_tokens,
           floor(sum(bucket - kept) / CAST(sum(bucket) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS pad_fraction
    FROM b GROUP BY 1
    """,
    "Sequence-length bucketing economics for batched "
    "training/inference: documents land in step-16 length buckets "
    "(capped at 64 with truncation accounting — the fixture's 99-"
    "token max makes the cap bind), and each bucket reports docs, "
    "kept vs padding vs truncated tokens, and the padding fraction "
    "— the report that chooses bucket boundaries to minimize wasted "
    "FLOPs. Pure integer arithmetic in one map-side-combined "
    "aggregate; zero joins, zero windows",
    ("text", "packing", "efficiency", "documents"),
)
def padding_waste_buckets(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    t = d.select(n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    bucket = F.when(F.col("n_tok") >= _SEQ_CAP, F.lit(_SEQ_CAP)).otherwise(
        (F.ceil(F.col("n_tok") / float(_SEQ_STEP)) * _SEQ_STEP).cast("long")
    )
    kept = F.when(F.col("n_tok") >= _SEQ_CAP, F.lit(_SEQ_CAP)).otherwise(
        F.col("n_tok")
    )
    truncated = F.when(
        F.col("n_tok") > _SEQ_CAP, F.col("n_tok") - _SEQ_CAP
    ).otherwise(F.lit(0))
    b = t.select(
        bucket.cast("long").alias("bucket"),
        kept.cast("long").alias("kept"),
        truncated.cast("long").alias("truncated"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("kept").alias("kept_tokens"),
        F.sum(F.col("bucket") - F.col("kept")).alias("pad_tokens"),
        F.sum("truncated").alias("truncated_tokens"),
        _r6(
            F.sum(F.col("bucket") - F.col("kept"))
            / F.sum("bucket").cast("double")
        ).alias("pad_fraction"),
    )


_IPF_ITERS = 4


def _ipf_oracle(iters: int = _IPF_ITERS) -> str:
    """Unrolled iterative-proportional-fitting twin: each iteration is
    a row-margin scaling then a column-margin scaling; margin sums
    fold in key order, every literal is DOUBLE-cast."""
    head = """
    cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
    dims AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                    CAST(count(DISTINCT source) AS BIGINT) AS nc
             FROM cells),
    w0 AS (SELECT lang, source, n,
                  CAST(n AS DOUBLE) / tot.nn AS w
           FROM cells CROSS JOIN tot)"""
    layers = []
    prev = "w0"
    for i in range(iters):
        r, c = f"wr{i + 1}", f"wc{i + 1}"
        layers.append(f"""
    {r} AS (
      SELECT p.lang, p.source, p.n,
             p.w * ((CAST(1.0 AS DOUBLE) / d.nr) / rs.s) AS w
      FROM {prev} p
      JOIN (SELECT lang,
                   list_reduce(list_prepend(0.0::DOUBLE,
                     list(w ORDER BY source)), (a, b) -> a + b) AS s
            FROM {prev} GROUP BY lang) rs ON rs.lang = p.lang
      CROSS JOIN dims d
    ),
    {c} AS (
      SELECT p.lang, p.source, p.n,
             p.w * ((CAST(1.0 AS DOUBLE) / d.nc) / cs.s) AS w
      FROM {r} p
      JOIN (SELECT source,
                   list_reduce(list_prepend(0.0::DOUBLE,
                     list(w ORDER BY lang)), (a, b) -> a + b) AS s
            FROM {r} GROUP BY source) cs ON cs.source = p.source
      CROSS JOIN dims d
    )""")
        prev = c
    return (
        "    WITH"
        + head
        + ","
        + ",".join(layers)
        + f"""
    SELECT p.lang, p.source, p.n AS n_docs,
           floor(p.w * 1000000 + 0.5) / 1000000.0 AS raked_weight,
           floor(p.w / (CAST(p.n AS DOUBLE) / t.nn) * 10000 + 0.5)
             / 10000.0 AS sampling_factor
    FROM {prev} p CROSS JOIN tot t
    """
    )


@_register(
    "ipf_raking_lang_source",
    _ipf_oracle(),
    "Iterative proportional fitting (raking) of the (lang × source) "
    "cell table to UNIFORM marginals — the survey-weighting / "
    "corpus-rebalancing workhorse: after "
    f"{_IPF_ITERS} row/column scaling rounds each language and each "
    "source carries (approximately) equal total weight while cell "
    "structure is preserved; sampling_factor is the per-cell up/"
    "down-weight a sampler applies. Margin sums fold in key order "
    "(F.aggregate ≡ list_reduce) so all "
    f"{2 * _IPF_ITERS} scaling layers bit-match the unrolled DuckDB "
    "twin. Everything after the one cells aggregate is "
    "categories²-sized",
    ("sampling", "raking", "weighting", "documents"),
)
def ipf_raking_lang_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    tot = cells.agg(F.sum("n").alias("nn"))
    nr = cells.select("lang").distinct().count()  # category-sized
    nc = cells.select("source").distinct().count()
    w = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "lang", "source", "n",
            (F.col("n").cast("double") / F.col("nn")).alias("w"),
        )
        .localCheckpoint(eager=False)
    )

    def fold_by(df, group_col, order_col):
        return df.groupBy(group_col).agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(order_col, F.col("w").alias("v")))
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ).alias("s")
        )

    for _ in range(_IPF_ITERS):
        rs = fold_by(w, "lang", "source")
        w = w.join(F.broadcast(rs), "lang").select(
            "lang", "source", "n",
            (F.col("w") * (F.lit(1.0 / nr) / F.col("s"))).alias("w"),
        )
        cs = fold_by(w, "source", "lang")
        w = (
            w.join(F.broadcast(cs), "source")
            .select(
                "lang", "source", "n",
                (F.col("w") * (F.lit(1.0 / nc) / F.col("s"))).alias("w"),
            )
            .localCheckpoint(eager=False)
        )

    r4 = lambda col: F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        F.col("n").cast("long").alias("n_docs"),
        _r6(F.col("w")).alias("raked_weight"),
        r4(
            F.col("w") / (F.col("n").cast("double") / F.col("nn"))
        ).alias("sampling_factor"),
    )


# ---------------------------------------------------------------------------
# Negative sampling for (doc, token) training pairs — unigram^0.75 CDF
# ---------------------------------------------------------------------------

_NEG_VOCAB = 500
_NEG_SLOTS = 2
_NEG_POSITIONS = (1, 11, 21)
_NEG_SPACE = float(2 ** 60)


@_register(
    "negative_sampling_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    flat AS (SELECT unnest(l) AS tok FROM toks),
    vocab AS MATERIALIZED (
      SELECT tok, cnt, pow(CAST(cnt AS DOUBLE), 0.75) AS w,
             rk
      FROM (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
        FROM flat GROUP BY tok
      ) WHERE rk <= {_NEG_VOCAB}
    ),
    cdf AS MATERIALIZED (
      SELECT tok, rk,
             sum(w) OVER (ORDER BY rk
                          ROWS UNBOUNDED PRECEDING) - w AS lo,
             sum(w) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS hi
      FROM vocab
    ),
    tw AS (SELECT max(hi) AS totw FROM cdf),
    pos AS (
      SELECT doc_id, p AS pos_idx, l[p] AS pos_token
      FROM toks, (SELECT unnest([{", ".join(str(p) for p in _NEG_POSITIONS)}])
                  AS p)
      WHERE len(l) >= p
    ),
    draws AS (
      SELECT doc_id, pos_idx, pos_token, s.slot,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                        || CAST(pos_idx AS VARCHAR) || ':'
                        || CAST(s.slot AS VARCHAR)), 1, 15)) AS UBIGINT)
                  AS DOUBLE) / {_NEG_SPACE!r} * tw.totw AS t
      FROM pos
      CROSS JOIN (SELECT unnest(generate_series(0, {_NEG_SLOTS - 1}))
                  AS slot) s
      CROSS JOIN tw
    )
    SELECT d.doc_id, CAST(d.pos_idx AS INTEGER) AS pos_idx, d.pos_token,
           CAST(d.slot AS INTEGER) AS slot, c.tok AS neg_token,
           d.pos_token = c.tok AS collision
    FROM draws d
    JOIN cdf c
      ON (d.t >= c.lo AND d.t < c.hi)
         OR (c.rk = {_NEG_VOCAB} AND d.t >= c.hi)
    """,
    "word2vec-style negative sampling — the training-pair generator "
    "of every embedding pipeline: the corpus top-500 vocabulary "
    "carries unigram^0.75 weights (Mikolov's smoothing), their "
    "running sum forms an inverse-CDF interval table, and for each "
    "(doc, anchor-position, slot) a 60-bit md5 draw maps through "
    "the CDF to a negative token — fully deterministic and "
    "rerun-stable, no RNG state anywhere, so both engines emit the "
    "identical sample. The CDF windows run over the 500-row vocab; "
    "Spark matches draws to intervals with a BUCKETED equi-join "
    "(interval exploded to the 64 hash-space buckets it spans, "
    "draws bucketed by floor(t/totw*64)) so the lookup stays an "
    "equi-shuffle at any corpus size — the oracle states the same "
    "match as a plain range join. Collisions with the anchor are "
    "flagged, not resampled (deterministic either way).",
    ("text", "sampling", "training-data", "documents"),
)
def negative_sampling_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("l"),
    ).localCheckpoint(eager=False)
    flat = toks.select(F.explode("l").alias("tok"))
    counts = flat.groupBy("tok").agg(F.count("*").alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_NEG_VOCAB)
        .select(
            "tok",
            "cnt",
            F.pow(F.col("cnt").cast("double"), 0.75).alias("w"),
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), F.col("tok").asc()))
            .alias("rk"),
        )
    )
    wcum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    cdf = vocab.select(
        "tok",
        "rk",
        (F.sum("w").over(wcum) - F.col("w")).alias("lo"),
        F.sum("w").over(wcum).alias("hi"),
    ).localCheckpoint(eager=False)
    tw = cdf.agg(F.max("hi").alias("totw"))
    posidx = F.array(*[F.lit(p) for p in _NEG_POSITIONS])
    pos = (
        toks.select(
            "doc_id", "l", F.explode(posidx).alias("pos_idx")
        )
        .filter(F.size("l") >= F.col("pos_idx"))
        .select(
            "doc_id",
            "pos_idx",
            F.element_at(F.col("l"), F.col("pos_idx")).alias("pos_token"),
        )
    )
    slots = F.array(*[F.lit(s) for s in range(_NEG_SLOTS)])
    draw_h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos_idx").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("double")
    draws = (
        pos.select("doc_id", "pos_idx", "pos_token", F.explode(slots).alias("slot"))
        .crossJoin(F.broadcast(tw))
        .select(
            "doc_id",
            "pos_idx",
            "pos_token",
            "slot",
            (draw_h / F.lit(_NEG_SPACE) * F.col("totw")).alias("t"),
            "totw",
        )
    )
    # bucketed equi-join: interval -> covered buckets, draw -> bucket
    nb = 64
    cdf_b = cdf.crossJoin(F.broadcast(tw)).select(
        "tok",
        "rk",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.least(
                    F.floor(F.col("lo") / F.col("totw") * nb).cast("int"),
                    F.lit(nb - 1),
                ),
                F.least(
                    F.floor(F.col("hi") / F.col("totw") * nb).cast("int"),
                    F.lit(nb - 1),
                ),
            )
        ).alias("bucket"),
    )
    draws_b = draws.select(
        "doc_id",
        "pos_idx",
        "pos_token",
        "slot",
        "t",
        F.least(
            F.floor(F.col("t") / F.col("totw") * nb).cast("int"),
            F.lit(nb - 1),
        ).alias("bucket"),
    )
    matched = draws_b.join(F.broadcast(cdf_b), "bucket").filter(
        ((F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi")))
        | ((F.col("rk") == _NEG_VOCAB) & (F.col("t") >= F.col("hi")))
    )
    return matched.select(
        "doc_id",
        F.col("pos_idx").cast("int").alias("pos_idx"),
        "pos_token",
        F.col("slot").cast("int").alias("slot"),
        F.col("tok").alias("neg_token"),
        (F.col("pos_token") == F.col("tok")).alias("collision"),
    )


_KC_K = 8
_KC_MOD = 50  # candidate sample: vec_id % 50 == 0


def _kcenter_oracle(k: int = _KC_K) -> str:
    """Unrolled Gonzalez farthest-point traversal: one CTE pair per
    selection round. Distances are exact integers on milli-quantized
    coordinates, so argmax/tie-break is bit-deterministic."""
    head = f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings WHERE vec_id % {_KC_MOD} = 0
    ),
    c1 AS (
      SELECT vec_id AS cid, q AS cq FROM pts ORDER BY vec_id LIMIT 1
    ),
    m1 AS MATERIALIZED (
      SELECT p.vec_id, p.q,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, len(p.q)),
                 i -> (p.q[i] - c.cq[i]) * (p.q[i] - c.cq[i]))),
               (a, b) -> a + b) AS md
      FROM pts p CROSS JOIN c1 c
    )"""
    layers = []
    for r in range(2, k + 1):
        layers.append(f"""
    c{r} AS (
      SELECT vec_id AS cid, q AS cq, md AS radius
      FROM m{r - 1} ORDER BY md DESC, vec_id ASC LIMIT 1
    ),
    m{r} AS MATERIALIZED (
      SELECT p.vec_id, p.q,
             least(p.md, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, len(p.q)),
                 i -> (p.q[i] - c.cq[i]) * (p.q[i] - c.cq[i]))),
               (a, b) -> a + b)) AS md
      FROM m{r - 1} p CROSS JOIN c{r} c
    )""")
    finals = ["SELECT 1 AS round, (SELECT cid FROM c1) AS center_vec_id, "
              "CAST(0 AS BIGINT) AS radius_sq"]
    for r in range(2, k + 1):
        finals.append(
            f"SELECT {r} AS round, cid, CAST(radius AS BIGINT) "
            f"FROM c{r}"
        )
    cover = (
        f"SELECT 0 AS round, CAST(count(*) AS BIGINT) AS center_vec_id, "
        f"CAST(max(md) AS BIGINT) AS radius_sq FROM m{k}"
    )
    return (
        head
        + ","
        + ",".join(layers)
        + "\n    "
        + "\nUNION ALL\n".join(finals + [cover])
    )


@_register(
    "kcenter_coreset_embeddings",
    _kcenter_oracle(),
    f"Gonzalez k-center farthest-point coreset (k={_KC_K}) over a "
    f"deterministic 1/{_KC_MOD} embedding sample — the max-coverage "
    "diverse-subset selector with the classic 2-approximation "
    "guarantee, used to seed IVF/k-means lists and to pick "
    "maximally-different exemplars for labeling: start from the "
    "lowest vec_id, repeatedly take the point FARTHEST from the "
    "chosen set (its distance is the covering radius at that "
    "round, monotonically non-increasing), k-1 rounds of one "
    "broadcast (the single new center) + one running-min update. "
    "Coordinates are milli-quantized so every distance is an exact "
    "integer and the argmax/tie-break (min vec_id) is bit-"
    "deterministic — this makes a GREEDY ITERATIVE selection fully "
    "oracle-checkable, where the float cousin (`mmr_diverse_"
    "representatives`) is rows-only. Row 0 reports the final "
    "coverage: candidate count and the max residual radius.",
    ("ml-data", "coreset", "iterative", "embeddings"),
)
def kcenter_coreset_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    pts = (
        emb.filter(F.col("vec_id") % _KC_MOD == 0)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1000).cast("long"),
            ).alias("q"),
        )
        .localCheckpoint(eager=False)
    )

    def dist_to(center_q):
        return F.aggregate(
            F.zip_with(
                F.col("q"), center_q, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )

    c1 = pts.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    m = (
        pts.crossJoin(F.broadcast(c1))
        .select("vec_id", "q", dist_to(F.col("cq")).alias("md"))
        .localCheckpoint(eager=False)
    )
    out_rows = [
        c1.select(
            F.lit(1).alias("round"),
            F.col("cid").alias("center_vec_id"),
            F.lit(0).cast("long").alias("radius_sq"),
        )
    ]
    for r in range(2, _KC_K + 1):
        c = m.orderBy(F.col("md").desc(), F.col("vec_id").asc()).limit(
            1
        ).select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cq"),
            F.col("md").alias("radius"),
        ).localCheckpoint(eager=False)
        out_rows.append(
            c.select(
                F.lit(r).alias("round"),
                F.col("cid").alias("center_vec_id"),
                F.col("radius").cast("long").alias("radius_sq"),
            )
        )
        m = (
            m.crossJoin(F.broadcast(c.select("cq")))
            .select(
                "vec_id",
                "q",
                F.least(F.col("md"), dist_to(F.col("cq"))).alias("md"),
            )
            .localCheckpoint(eager=False)
        )
    cover = m.agg(
        F.count("*").alias("npts"), F.max("md").alias("maxmd")
    ).select(
        F.lit(0).alias("round"),
        F.col("npts").cast("long").alias("center_vec_id"),
        F.col("maxmd").cast("long").alias("radius_sq"),
    )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionAll(df)
    return out.unionAll(cover)


_MC_ROUNDS = 10


def _maxcov_oracle(rounds: int = _MC_ROUNDS) -> str:
    """Unrolled greedy max-coverage: per round one anti-join gain
    count, one deterministic argmax (gain desc, doc asc), one
    coverage union. Gains are integers, so the pick is exact."""
    head = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    dt AS MATERIALIZED (
      -- coverage universe = TRIGRAMS: the fixture vocabulary is a
      -- few dozen words, so unigram coverage saturates in one pick;
      -- trigram coverage exposes the real diminishing-returns curve
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(l) - 2, 0)),
                 i -> array_to_string(l[i:i + 2], ' '))) AS tok
        FROM toks
      )
    ),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM dt),
    cov0 AS (SELECT CAST(NULL AS VARCHAR) AS tok WHERE FALSE)"""
    layers = []
    for r in range(1, rounds + 1):
        layers.append(f"""
    gain{r} AS (
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS gain
      FROM dt d LEFT JOIN cov{r - 1} c ON c.tok = d.tok
      WHERE c.tok IS NULL
      GROUP BY 1
    ),
    pick{r} AS MATERIALIZED (
      SELECT doc_id, gain FROM gain{r}
      ORDER BY gain DESC, doc_id ASC LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
      SELECT tok FROM cov{r - 1}
      UNION
      SELECT d.tok FROM dt d JOIN pick{r} p ON p.doc_id = d.doc_id
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, p.doc_id, p.gain, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM cov{r}) AS covered "
        f"FROM pick{r} p"
        for r in range(1, rounds + 1)
    )
    return (
        head
        + ","
        + ",".join(layers)
        + f"""
    SELECT f.round, f.doc_id, f.gain, f.covered, vocab.v AS vocab_size
    FROM ({finals}) f CROSS JOIN vocab
    """
    )


@_register(
    "max_coverage_doc_selection",
    _maxcov_oracle(),
    f"Greedy max-coverage document selection ({_MC_ROUNDS} rounds) — "
    "submodular data curation: pick the document covering the most "
    "not-yet-covered TRIGRAMS (the fixture unigram vocabulary is "
    "tiny, so trigrams are the honest universe), repeat — the facility-"
    "location greedy with the classic (1-1/e) guarantee, which is "
    "how instruction-tuning sets and eval suites pick maximally-"
    "informative examples under a budget. Per round ONE anti-join "
    "gain count (shuffle keyed on token), one integer argmax (gain "
    "desc, doc asc — exact, no float scores), one coverage union; "
    "emits the greedy trajectory (pick, marginal gain, cumulative "
    "coverage vs vocabulary size) whose diminishing-returns curve "
    "IS the submodularity certificate the test suite asserts. The "
    "set-cover companion to `kcenter_coreset_embeddings` (geometric "
    "diversity) and `mmr_diverse_representatives` (relevance-"
    "diversity tradeoff).",
    ("ml-data", "curation", "iterative", "documents"),
)
def max_coverage_doc_selection(spark, sf_dir):
    from ....operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    # The trigram explode+distinct inherits the scan's single split
    # on the fixture (2.3 s serialized tokenize, round 8); spread
    # before the expensive expression work, no-op at scale.
    toks = spread_for_compute(d.select("doc_id", "text")).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("l"),
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("l") - 2, F.lit(0)))
    dt = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.array_join(F.slice(F.col("l"), i, 3), " "),
                )
            ).alias("tok"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    vocab_size = dt.select("tok").distinct().count()
    # Greedy state lives on the driver: the covered-token set grows
    # by at most one document's trigrams per round (rounds × doc
    # length — bounded regardless of corpus size), while the
    # corpus-sized (doc, trigram) table stays distributed. This
    # replaces the old per-round union+distinct+checkpoint+count
    # chain (~6 stage-jobs/round, measured round 8) with one gain
    # aggregate and one picked-doc token fetch per round; the
    # cumulative coverage count is len() of the driver set — the
    # same number the old covered.count() action recomputed.
    spark = dt.sparkSession
    covered_set: set[str] = set()
    picks_rows = []
    for r in range(1, _MC_ROUNDS + 1):
        if not covered_set:
            gain = dt.groupBy("doc_id").agg(F.count("*").alias("gain"))
        else:
            cov_df = spark.createDataFrame(
                spark.sparkContext.parallelize(
                    [(t,) for t in covered_set],
                    max(1, len(covered_set) // 100_000 + 1),
                ),
                "tok string",
            )
            gain = (
                dt.join(F.broadcast(cov_df), "tok", "left_anti")
                .groupBy("doc_id")
                .agg(F.count("*").alias("gain"))
            )
        # ONE action per round (r9): broadcast-join the argmax doc
        # back onto dt so the pick and its full token list arrive in
        # the same collect — the separate token-fetch action doubled
        # the round count's scheduling cost (46 jobs profiled).
        top1 = gain.orderBy(
            F.col("gain").desc(), F.col("doc_id").asc()
        ).limit(1)
        rows = (
            dt.join(F.broadcast(top1), "doc_id")
            .select("doc_id", "gain", "tok")
            .collect()
        )
        if not rows:
            # all trigrams covered before _MC_ROUNDS picks (degenerate
            # corpora): emit fewer rows, like the pre-r8 DataFrame
            # form did, instead of IndexError (ADVICE r8)
            break
        covered_set.update(row["tok"] for row in rows)
        picks_rows.append(
            (
                r,
                rows[0]["doc_id"],
                rows[0]["gain"],
                len(covered_set),
                vocab_size,
            )
        )
    return spark.createDataFrame(
        picks_rows,
        "round int, doc_id long, gain long, covered long, "
        "vocab_size long",
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit (64 -> 8 dims)
# ---------------------------------------------------------------------------

_JL_K = 8
_JL_DIM = 64
_JL_SEED = 47
_JL_MAT = (
    np.random.default_rng(_JL_SEED).standard_normal((_JL_DIM, _JL_K))
    / np.sqrt(_JL_K)
)

_JL_MAT_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(f"{float(_JL_MAT[i][j])!r}::DOUBLE" for j in range(_JL_K)) + "]"
        for i in range(_JL_DIM)
    )
    + "]"
)


def _jl_proj_sql(vec: str, j: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, {_JL_DIM}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * m.mat[i][{j + 1}])), "
        f"(a, b) -> a + b)"
    )


@_register(
    "random_projection_distortion",
    f"""
    WITH m AS (SELECT {_JL_MAT_SQL} AS mat),
    pairs AS (
      SELECT a.vec_id, a.embedding AS ea, b.embedding AS eb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ),
    dists AS (
      SELECT vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(generate_series(1, {_JL_DIM}),
                 i -> (CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE))
                      * (CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE)))),
               (a, b) -> a + b) AS d_orig,
             list_reduce(list_prepend(0.0::DOUBLE, [
                 {", ".join(
                     f"({_jl_proj_sql('ea', j)} - {_jl_proj_sql('eb', j)})"
                     f" * ({_jl_proj_sql('ea', j)} - {_jl_proj_sql('eb', j)})"
                     for j in range(_JL_K))}]),
               (a, b) -> a + b) AS d_proj
      FROM pairs CROSS JOIN m
    ),
    ratios AS (
      SELECT least(CAST(floor(d_proj / d_orig * 10) AS BIGINT), 29)
               AS bucket,
             CAST(floor(d_proj / d_orig * 1000000 + 0.5) AS BIGINT)
               AS ratio_micro
      FROM dists WHERE d_orig > 0
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(ratio_micro) AS BIGINT) AS sum_ratio_micro
    FROM ratios GROUP BY 1
    """,
    f"Johnson-Lindenstrauss distortion audit for a {_JL_DIM}->"
    f"{_JL_K} Gaussian random projection (seed {_JL_SEED}, matrix "
    "materialized as full-precision literals into BOTH engines — "
    "the seeded-constant replication pattern): for every "
    "consecutive-id embedding pair, the squared-distance ratio "
    "projected/original is computed with sequential per-dimension "
    "folds (bit-identical), quantized to micro units, and "
    "histogrammed in 0.1-wide buckets — the measurement that says "
    "whether 8 dims preserve enough geometry before you run the "
    "cheap-distance tier of the ANN stack on projected vectors. "
    "Scan-local matrix multiply (the matrix is a compile-time "
    "constant, never a join); one self-join on adjacent ids for "
    "the pair set.",
    ("ml-data", "projection", "embeddings"),
)
def random_projection_distortion(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("eb")
    )
    pairs = a.join(b, "vec_id")

    def dot_diff_sq(j):
        col_j = F.array(*[F.lit(float(_JL_MAT[i][j])) for i in range(_JL_DIM)])

        def proj(vec):
            return F.aggregate(
                F.zip_with(
                    vec, col_j, lambda x, y: x.cast("double") * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        diff = proj(F.col("ea")) - proj(F.col("eb"))
        return diff * diff

    d_orig = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d_proj = F.aggregate(
        F.array(*[dot_diff_sq(j) for j in range(_JL_K)]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = pairs.select(
        d_orig.alias("d_orig"), d_proj.alias("d_proj")
    ).filter(F.col("d_orig") > 0)
    ratios = dists.select(
        F.least(
            F.floor(F.col("d_proj") / F.col("d_orig") * 10).cast("long"),
            F.lit(29),
        ).alias("bucket"),
        F.floor(F.col("d_proj") / F.col("d_orig") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("ratio_micro"),
    )
    return ratios.groupBy("bucket").agg(
        F.count("*").alias("n_pairs"),
        F.sum("ratio_micro").cast("long").alias("sum_ratio_micro"),
    )


# ---------------------------------------------------------------------------
# Embedding drift: centroid shift between the two vec_id cohorts
# ---------------------------------------------------------------------------


@_register(
    "embedding_drift_centroids",
    """
    WITH halves AS (
      SELECT label, vec_id % 2 = 0 AS early,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    sums AS (
      -- per (label, half): 64 micro-quantized integer dimension
      -- sums (order-free), generated as explicit columns
      SELECT label, early,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(v[1] * 1000000) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(floor(v[2] * 1000000) AS BIGINT)) AS BIGINT) AS s2,
             CAST(sum(CAST(floor(v[3] * 1000000) AS BIGINT)) AS BIGINT) AS s3,
             CAST(sum(CAST(floor(v[4] * 1000000) AS BIGINT)) AS BIGINT) AS s4,
             CAST(sum(CAST(floor(v[5] * 1000000) AS BIGINT)) AS BIGINT) AS s5,
             CAST(sum(CAST(floor(v[6] * 1000000) AS BIGINT)) AS BIGINT) AS s6,
             CAST(sum(CAST(floor(v[7] * 1000000) AS BIGINT)) AS BIGINT) AS s7,
             CAST(sum(CAST(floor(v[8] * 1000000) AS BIGINT)) AS BIGINT) AS s8,
             CAST(sum(CAST(floor(v[9] * 1000000) AS BIGINT)) AS BIGINT) AS s9,
             CAST(sum(CAST(floor(v[10] * 1000000) AS BIGINT)) AS BIGINT) AS s10,
             CAST(sum(CAST(floor(v[11] * 1000000) AS BIGINT)) AS BIGINT) AS s11,
             CAST(sum(CAST(floor(v[12] * 1000000) AS BIGINT)) AS BIGINT) AS s12,
             CAST(sum(CAST(floor(v[13] * 1000000) AS BIGINT)) AS BIGINT) AS s13,
             CAST(sum(CAST(floor(v[14] * 1000000) AS BIGINT)) AS BIGINT) AS s14,
             CAST(sum(CAST(floor(v[15] * 1000000) AS BIGINT)) AS BIGINT) AS s15,
             CAST(sum(CAST(floor(v[16] * 1000000) AS BIGINT)) AS BIGINT) AS s16,
             CAST(sum(CAST(floor(v[17] * 1000000) AS BIGINT)) AS BIGINT) AS s17,
             CAST(sum(CAST(floor(v[18] * 1000000) AS BIGINT)) AS BIGINT) AS s18,
             CAST(sum(CAST(floor(v[19] * 1000000) AS BIGINT)) AS BIGINT) AS s19,
             CAST(sum(CAST(floor(v[20] * 1000000) AS BIGINT)) AS BIGINT) AS s20,
             CAST(sum(CAST(floor(v[21] * 1000000) AS BIGINT)) AS BIGINT) AS s21,
             CAST(sum(CAST(floor(v[22] * 1000000) AS BIGINT)) AS BIGINT) AS s22,
             CAST(sum(CAST(floor(v[23] * 1000000) AS BIGINT)) AS BIGINT) AS s23,
             CAST(sum(CAST(floor(v[24] * 1000000) AS BIGINT)) AS BIGINT) AS s24,
             CAST(sum(CAST(floor(v[25] * 1000000) AS BIGINT)) AS BIGINT) AS s25,
             CAST(sum(CAST(floor(v[26] * 1000000) AS BIGINT)) AS BIGINT) AS s26,
             CAST(sum(CAST(floor(v[27] * 1000000) AS BIGINT)) AS BIGINT) AS s27,
             CAST(sum(CAST(floor(v[28] * 1000000) AS BIGINT)) AS BIGINT) AS s28,
             CAST(sum(CAST(floor(v[29] * 1000000) AS BIGINT)) AS BIGINT) AS s29,
             CAST(sum(CAST(floor(v[30] * 1000000) AS BIGINT)) AS BIGINT) AS s30,
             CAST(sum(CAST(floor(v[31] * 1000000) AS BIGINT)) AS BIGINT) AS s31,
             CAST(sum(CAST(floor(v[32] * 1000000) AS BIGINT)) AS BIGINT) AS s32,
             CAST(sum(CAST(floor(v[33] * 1000000) AS BIGINT)) AS BIGINT) AS s33,
             CAST(sum(CAST(floor(v[34] * 1000000) AS BIGINT)) AS BIGINT) AS s34,
             CAST(sum(CAST(floor(v[35] * 1000000) AS BIGINT)) AS BIGINT) AS s35,
             CAST(sum(CAST(floor(v[36] * 1000000) AS BIGINT)) AS BIGINT) AS s36,
             CAST(sum(CAST(floor(v[37] * 1000000) AS BIGINT)) AS BIGINT) AS s37,
             CAST(sum(CAST(floor(v[38] * 1000000) AS BIGINT)) AS BIGINT) AS s38,
             CAST(sum(CAST(floor(v[39] * 1000000) AS BIGINT)) AS BIGINT) AS s39,
             CAST(sum(CAST(floor(v[40] * 1000000) AS BIGINT)) AS BIGINT) AS s40,
             CAST(sum(CAST(floor(v[41] * 1000000) AS BIGINT)) AS BIGINT) AS s41,
             CAST(sum(CAST(floor(v[42] * 1000000) AS BIGINT)) AS BIGINT) AS s42,
             CAST(sum(CAST(floor(v[43] * 1000000) AS BIGINT)) AS BIGINT) AS s43,
             CAST(sum(CAST(floor(v[44] * 1000000) AS BIGINT)) AS BIGINT) AS s44,
             CAST(sum(CAST(floor(v[45] * 1000000) AS BIGINT)) AS BIGINT) AS s45,
             CAST(sum(CAST(floor(v[46] * 1000000) AS BIGINT)) AS BIGINT) AS s46,
             CAST(sum(CAST(floor(v[47] * 1000000) AS BIGINT)) AS BIGINT) AS s47,
             CAST(sum(CAST(floor(v[48] * 1000000) AS BIGINT)) AS BIGINT) AS s48,
             CAST(sum(CAST(floor(v[49] * 1000000) AS BIGINT)) AS BIGINT) AS s49,
             CAST(sum(CAST(floor(v[50] * 1000000) AS BIGINT)) AS BIGINT) AS s50,
             CAST(sum(CAST(floor(v[51] * 1000000) AS BIGINT)) AS BIGINT) AS s51,
             CAST(sum(CAST(floor(v[52] * 1000000) AS BIGINT)) AS BIGINT) AS s52,
             CAST(sum(CAST(floor(v[53] * 1000000) AS BIGINT)) AS BIGINT) AS s53,
             CAST(sum(CAST(floor(v[54] * 1000000) AS BIGINT)) AS BIGINT) AS s54,
             CAST(sum(CAST(floor(v[55] * 1000000) AS BIGINT)) AS BIGINT) AS s55,
             CAST(sum(CAST(floor(v[56] * 1000000) AS BIGINT)) AS BIGINT) AS s56,
             CAST(sum(CAST(floor(v[57] * 1000000) AS BIGINT)) AS BIGINT) AS s57,
             CAST(sum(CAST(floor(v[58] * 1000000) AS BIGINT)) AS BIGINT) AS s58,
             CAST(sum(CAST(floor(v[59] * 1000000) AS BIGINT)) AS BIGINT) AS s59,
             CAST(sum(CAST(floor(v[60] * 1000000) AS BIGINT)) AS BIGINT) AS s60,
             CAST(sum(CAST(floor(v[61] * 1000000) AS BIGINT)) AS BIGINT) AS s61,
             CAST(sum(CAST(floor(v[62] * 1000000) AS BIGINT)) AS BIGINT) AS s62,
             CAST(sum(CAST(floor(v[63] * 1000000) AS BIGINT)) AS BIGINT) AS s63,
             CAST(sum(CAST(floor(v[64] * 1000000) AS BIGINT)) AS BIGINT) AS s64
      FROM halves GROUP BY 1, 2
    ),
    paired AS (
      -- squared centroid shift as a generated fixed-order sum, the
      -- same left-associated order as the Spark zip_with fold
      SELECT a.label, a.n AS n_early, b.n AS n_late,
             (a.s1 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s1 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s1 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s1 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s2 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s2 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s2 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s2 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s3 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s3 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s3 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s3 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s4 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s4 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s4 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s4 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s5 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s5 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s5 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s5 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s6 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s6 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s6 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s6 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s7 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s7 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s7 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s7 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s8 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s8 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s8 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s8 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s9 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s9 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s9 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s9 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s10 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s10 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s10 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s10 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s11 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s11 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s11 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s11 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s12 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s12 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s12 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s12 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s13 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s13 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s13 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s13 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s14 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s14 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s14 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s14 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s15 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s15 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s15 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s15 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s16 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s16 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s16 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s16 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s17 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s17 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s17 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s17 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s18 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s18 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s18 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s18 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s19 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s19 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s19 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s19 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s20 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s20 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s20 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s20 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s21 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s21 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s21 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s21 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s22 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s22 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s22 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s22 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s23 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s23 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s23 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s23 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s24 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s24 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s24 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s24 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s25 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s25 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s25 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s25 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s26 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s26 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s26 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s26 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s27 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s27 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s27 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s27 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s28 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s28 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s28 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s28 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s29 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s29 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s29 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s29 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s30 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s30 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s30 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s30 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s31 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s31 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s31 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s31 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s32 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s32 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s32 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s32 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s33 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s33 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s33 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s33 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s34 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s34 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s34 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s34 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s35 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s35 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s35 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s35 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s36 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s36 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s36 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s36 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s37 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s37 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s37 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s37 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s38 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s38 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s38 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s38 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s39 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s39 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s39 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s39 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s40 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s40 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s40 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s40 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s41 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s41 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s41 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s41 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s42 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s42 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s42 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s42 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s43 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s43 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s43 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s43 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s44 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s44 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s44 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s44 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s45 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s45 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s45 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s45 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s46 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s46 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s46 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s46 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s47 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s47 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s47 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s47 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s48 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s48 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s48 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s48 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s49 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s49 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s49 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s49 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s50 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s50 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s50 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s50 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s51 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s51 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s51 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s51 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s52 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s52 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s52 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s52 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s53 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s53 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s53 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s53 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s54 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s54 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s54 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s54 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s55 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s55 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s55 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s55 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s56 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s56 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s56 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s56 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s57 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s57 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s57 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s57 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s58 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s58 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s58 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s58 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s59 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s59 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s59 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s59 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s60 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s60 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s60 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s60 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s61 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s61 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s61 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s61 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s62 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s62 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s62 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s62 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s63 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s63 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s63 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s63 / CAST(b.n AS DOUBLE) / 1000000.0)
               + (a.s64 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s64 / CAST(b.n AS DOUBLE) / 1000000.0) * (a.s64 / CAST(a.n AS DOUBLE) / 1000000.0 - b.s64 / CAST(b.n AS DOUBLE) / 1000000.0) AS shift_sq
      FROM sums a JOIN sums b
        ON a.label = b.label AND a.early AND NOT b.early
    )
    SELECT label, n_early, n_late,
           floor(sqrt(shift_sq) * 1000000 + 0.5) / 1000000.0
             AS centroid_shift_l2
    FROM paired
    """,
    "Embedding drift detector: per label, the L2 distance between "
    "the centroid of the even-id and odd-id cohorts (the "
    "time-proxy split every reprocessing pipeline has) — centroids "
    "are computed from MICRO-QUANTIZED integer sums per dimension "
    "(order-free, so the drift column is bit-identical at any "
    "parallelism), and the 64-dim shift folds in dimension order. "
    "A moving centroid flags encoder-version skew or upstream "
    "distribution change BEFORE the ANN recall floors "
    "(`ann_ivf_recall_floor`) silently decay — the vector-space "
    "member of the drift family (PSI prices, Page-Hinkley "
    "revenue, CUSUM changepoints). One grouped aggregate, "
    "label-grid sized.",
    ("ml-data", "drift", "embeddings"),
)
def embedding_drift_centroids(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    halves = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("early"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    dim = 64
    sums = halves.groupBy("label", "early").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.floor(F.element_at(F.col("v"), i) * 1000000).cast("long")
            ).alias(f"s{i}")
            for i in range(1, dim + 1)
        ],
    )
    cents = sums.select(
        "label",
        "early",
        "n",
        F.array(
            *[
                (F.col(f"s{i}").cast("double") / F.col("n") / 1000000.0)
                for i in range(1, dim + 1)
            ]
        ).alias("c"),
    )
    a = cents.filter(F.col("early")).select(
        "label", F.col("n").alias("n_early"), F.col("c").alias("ca")
    )
    b = cents.filter(~F.col("early")).select(
        "label", F.col("n").alias("n_late"), F.col("c").alias("cb")
    )
    shift_sq = F.aggregate(
        F.zip_with(
            F.col("ca"), F.col("cb"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return a.join(b, "label").select(
        "label",
        F.col("n_early").cast("long").alias("n_early"),
        F.col("n_late").cast("long").alias("n_late"),
        (
            F.floor(F.sqrt(shift_sq) * 1000000 + F.lit(0.5)) / 1000000.0
        ).alias("centroid_shift_l2"),
    )


@_register(
    "pack_sequences_ffd",
    """
    WITH RECURSIVE docs2 AS (
      SELECT doc_id,
             CAST(coalesce(len(list_filter(
               string_split_regex(lower(text), '\\s+'),
               x -> x <> '')), 0) AS BIGINT) AS n,
             doc_id % 8 AS shard
      FROM documents
    ),
    ordered AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                 ORDER BY n DESC, doc_id ASC) AS rnk
      FROM docs2
    ),
    rec(shard, rnk, rems, doc_id, n, bin_in_shard) AS (
      SELECT shard, 0, []::BIGINT[], NULL::BIGINT, NULL::BIGINT,
             NULL::BIGINT
      FROM (SELECT DISTINCT shard FROM ordered)
      UNION ALL
      SELECT o.shard, o.rnk,
        CASE WHEN s.idx IS NULL THEN list_append(r.rems, 256 - o.n)
             ELSE list_transform(r.rems,
                    (x, j) -> CASE WHEN j = s.idx THEN x - o.n
                              ELSE x END) END,
        o.doc_id, o.n,
        coalesce(s.idx, len(r.rems) + 1)
      FROM rec r
      JOIN ordered o ON o.shard = r.shard AND o.rnk = r.rnk + 1,
      LATERAL (SELECT nullif(list_position(
                 list_transform(r.rems, x -> x >= o.n), true), 0)
                 AS idx) s
    )
    SELECT doc_id, n AS n_tokens, shard, bin_in_shard,
           shard * 1000000 + bin_in_shard AS bin_id
    FROM rec WHERE rnk >= 1
    """,
    "Sequence packing (first-fit-decreasing) — the step between a "
    "tokenized corpus and a training dataloader: documents pack into "
    "capacity-256 context bins, visited (token count desc, id asc), "
    "each into the FIRST bin that fits, else a new bin; oversize "
    "docs get their own over-full bin nothing else joins. Exact "
    "global FFD is inherently sequential, so the operator "
    "(operators/packing.py) shards by doc_id % 8 and runs exact FFD "
    "inside each shard as one Arrow-local pass — the bounded-"
    "sequential-work discipline; quality loss vs global FFD is the "
    "usual < 1-bin-per-shard tail. The DuckDB oracle replays each "
    "shard's scan with a recursive CTE carrying the remaining-"
    "capacity list (first-fit = list_position of the first fitting "
    "bin) and every assignment must match",
    ("text", "packing", "training", "documents"),
)
def pack_sequences_ffd(spark, sf_dir):
    from ....functions.text import token_count
    from ....operators.packing import pack_sequences_ffd as pack

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(token_count(F.col("text")).cast("long"), F.lit(0))
        .alias("n_tokens"),
    )
    return pack(
        d, count_col="n_tokens", id_col="doc_id",
        capacity=256, n_shards=8,
    )
