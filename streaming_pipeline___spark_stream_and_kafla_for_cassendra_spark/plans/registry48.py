"""Round-3 registry additions, batch 35 — dedup-threshold
sensitivity, quantile normalization, and two-way effects
decomposition.

Same contract as ``registry.py``. Imported at the bottom of
``registry.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import _register, _t

# ---------------------------------------------------------------------------
# Near-dup threshold sensitivity: pair counts across Jaccard cutoffs
# ---------------------------------------------------------------------------

_THRESH_PPM = (500000, 600000, 700000, 800000, 900000)


@_register(
    "dedup_threshold_sensitivity",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(l) - 2, 0)),
                 i -> array_to_string(l[i:i + 2], ' '))) AS g
        FROM toks
      )
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM grams GROUP BY 1
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(count(*) AS BIGINT) AS inter
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS MATERIALIZED (
      SELECT p.inter * 1000000
             / CAST(sa.sz + sb.sz - p.inter AS DOUBLE) AS jac_ppm,
             p.da, p.db
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.da
      JOIN sizes sb ON sb.doc_id = p.db
    ),
    ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
    {" UNION ALL ".join(
        f'''SELECT {t} AS threshold_ppm,
           CAST(sum(CASE WHEN jac_ppm >= {t} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs,
           CAST(count(DISTINCT CASE WHEN jac_ppm >= {t} THEN db END)
                AS BIGINT) AS docs_dropped,
           CAST(count(DISTINCT CASE WHEN jac_ppm >= {t} THEN db END)
                * 1000000 // (SELECT n FROM ndocs) AS BIGINT)
             AS dropped_ppm
        FROM scored'''
        for t in _THRESH_PPM)}
    """,
    "Near-dup THRESHOLD sensitivity: one 3-gram-Jaccard pair "
    "computation scored once, then swept across five cutoffs "
    "(0.5-0.9) reporting surviving pair counts and — under the "
    "keep-lowest-id policy — how many documents each threshold "
    "would drop, in ppm of the corpus. The picking-the-knob "
    "readout every dedup deployment needs BEFORE committing: a "
    "cliff between 0.6 and 0.7 means the corpus has a near-dup "
    "band right there and the choice is load-bearing; a flat "
    "curve means any threshold works. Pair mining runs ONCE "
    "(gram-bucketed); the sweep is conditional aggregation over "
    "the scored pair list.",
    ("text-quality", "dedup", "tuning", "documents"),
)
def dedup_threshold_sensitivity(spark, sf_dir):
    from ..operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    toks = spread_for_compute(d.select("doc_id", "text")).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("l"),
    ).localCheckpoint(eager=False)
    idx = F.sequence(F.lit(1), F.greatest(F.size("l") - 2, F.lit(0)))
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.array_join(F.slice(F.col("l"), i, 3), " "),
                )
            ).alias("g"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the sweep only ever counts pairs at or above min(_THRESH_PPM),
    # so the miner can run the LOSSLESS df-capped path (dedup.py::
    # df_capped_pair_stats) at that floor: rare grams (df ≤ 256)
    # drive the candidate join, the stop-gram stratum re-joins
    # separately, array_intersect verifies exact counts — identical
    # scored rows, linear instead of quadratic stop-gram cost
    from ..operators.dedup import df_capped_pair_stats

    # floor sits one ppm-mille BELOW the lowest swept cutoff so the
    # miner's float division can never drop a boundary pair the
    # sweep's own jac_ppm comparison would count
    stats = df_capped_pair_stats(
        grams.select(
            F.col("doc_id").alias("_id"), F.xxhash64("g").alias("gram")
        ),
        threshold=min(_THRESH_PPM) / 1e6 - 0.001,
        max_gram_df=256,
    )
    scored = stats.select(
        (
            F.col("n_inter")
            * 1000000
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                "double"
            )
        ).alias("jac_ppm"),
        F.col("id_a").alias("da"),
        F.col("id_b").alias("db"),
    ).localCheckpoint(eager=False)
    n_docs = toks.count()
    out = None
    for t in _THRESH_PPM:
        # count, not sum: when the miner's floor leaves ``scored``
        # empty, sum over zero rows is NULL where the oracle's sum over
        # the unfloored pair list is 0
        one = scored.agg(
            F.count_if(F.col("jac_ppm") >= t).alias("n_pairs"),
            F.countDistinct(
                F.when(F.col("jac_ppm") >= t, F.col("db"))
            ).alias("docs_dropped"),
        ).select(
            F.lit(t).alias("threshold_ppm"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("docs_dropped").cast("long").alias("docs_dropped"),
            F.expr(f"docs_dropped * 1000000 div {n_docs}")
            .cast("long")
            .alias("dropped_ppm"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Quantile normalization: per-type value deciles vs the pooled deciles
# ---------------------------------------------------------------------------

_QN_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


@_register(
    "quantile_normalization_report",
    f"""
    WITH vals AS (
      SELECT event_type,
             CAST(floor(value * 10000) AS BIGINT) AS v
      FROM events
    ),
    per_type AS (
      SELECT event_type AS grp,
             {", ".join(
                 f"round(quantile_cont(v, {q}), 4) AS q{int(q * 100)}"
                 for q in _QN_QS)}
      FROM vals GROUP BY 1
    ),
    pooled AS (
      SELECT {", ".join(
          f"round(quantile_cont(v, {q}), 4) AS p{int(q * 100)}"
          for q in _QN_QS)}
      FROM vals
    )
    {" UNION ALL ".join(
        f'''SELECT t.grp AS event_type, CAST({q!r} AS DOUBLE) AS quantile,
           t.q{int(q * 100)} AS type_value,
           p.p{int(q * 100)} AS pooled_value,
           round(p.p{int(q * 100)} - t.q{int(q * 100)}, 4) AS shift
        FROM per_type t CROSS JOIN pooled p'''
        for q in _QN_QS)}
    """,
    "Quantile normalization report: per event type, exact "
    "interpolated quantiles of value against the POOLED "
    "distribution's quantiles, with the additive shift that maps "
    "one onto the other — the distribution-matching table behind "
    "quantile normalization (microarray-style) and per-segment "
    "feature scaling: applying shift(q) at each rank makes every "
    "type's distribution identical to the pooled one. Integer "
    "ten-thousandths in, exact `quantile_cont`/`percentile` "
    "pairing (the oracle-proven duo), one grid of 5 types x 5 "
    "quantiles out. The prescriptive companion to "
    "`ks_statistic_value_by_type`, which only detects that the "
    "distributions differ.",
    ("stats", "normalization", "events"),
)
def quantile_normalization_report(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    vals = e.select(
        "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
    ).localCheckpoint(eager=False)
    per_type = vals.groupBy(F.col("event_type").alias("grp")).agg(
        *[
            (F.round(F.expr(f"percentile(v, {q})"), 4) + F.lit(0.0)).alias(
                f"q{int(q * 100)}"
            )
            for q in _QN_QS
        ]
    )
    pooled = vals.agg(
        *[
            (F.round(F.expr(f"percentile(v, {q})"), 4) + F.lit(0.0)).alias(
                f"p{int(q * 100)}"
            )
            for q in _QN_QS
        ]
    )
    joined = per_type.crossJoin(F.broadcast(pooled)).localCheckpoint(
        eager=False
    )
    out = None
    for q in _QN_QS:
        qc, pc = f"q{int(q * 100)}", f"p{int(q * 100)}"
        one = joined.select(
            F.col("grp").alias("event_type"),
            F.lit(float(q)).alias("quantile"),
            F.col(qc).alias("type_value"),
            F.col(pc).alias("pooled_value"),
            (F.round(F.col(pc) - F.col(qc), 4) + F.lit(0.0)).alias("shift"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Two-way additive effects decomposition: weekday x priority revenue
# ---------------------------------------------------------------------------


@_register(
    "two_way_effects_decomposition",
    """
    WITH cells AS (
      SELECT (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
              + 4) % 7 AS dow,
             o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders GROUP BY 1, 2
    ),
    grand AS (
      SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(s) AS BIGINT) AS gs
      FROM cells
    ),
    rows_ AS (
      SELECT dow, CAST(sum(n) AS BIGINT) AS rn,
             CAST(sum(s) AS BIGINT) AS rs
      FROM cells GROUP BY 1
    ),
    cols_ AS (
      SELECT priority, CAST(sum(n) AS BIGINT) AS cn,
             CAST(sum(s) AS BIGINT) AS cs
      FROM cells GROUP BY 1
    )
    SELECT c.dow, c.priority, c.n AS n_orders,
           floor(c.s / CAST(c.n AS DOUBLE) * 100 + 0.5) / 100.0
             AS cell_mean_cents,
           floor(g.gs / CAST(g.gn AS DOUBLE) * 100 + 0.5) / 100.0
             AS grand_mean_cents,
           floor((r.rs / CAST(r.rn AS DOUBLE)
                  - g.gs / CAST(g.gn AS DOUBLE)) * 100 + 0.5) / 100.0
             AS dow_effect_cents,
           floor((k.cs / CAST(k.cn AS DOUBLE)
                  - g.gs / CAST(g.gn AS DOUBLE)) * 100 + 0.5) / 100.0
             AS priority_effect_cents,
           floor((c.s / CAST(c.n AS DOUBLE)
                  - r.rs / CAST(r.rn AS DOUBLE)
                  - k.cs / CAST(k.cn AS DOUBLE)
                  + g.gs / CAST(g.gn AS DOUBLE)) * 100 + 0.5) / 100.0
             AS interaction_cents
    FROM cells c
    JOIN grand g ON TRUE
    JOIN rows_ r ON r.dow = c.dow
    JOIN cols_ k ON k.priority = c.priority
    """,
    "Two-way additive effects decomposition of order value over "
    "weekday x priority: every cell mean splits into grand mean + "
    "row (weekday) effect + column (priority) effect + "
    "interaction residual — the ANOVA-table view that separates "
    "'Mondays are big' from 'URGENT orders are big' from 'URGENT "
    "Mondays are special' (only the last needs a joint model). "
    "All four components from exact integer sums with pinned "
    "divisions; weekday by integer epoch-day arithmetic. One fact "
    "aggregate to a 35-cell grid; the designed-experiment "
    "companion to `seasonal_index_weekday_revenue` (row effects "
    "alone) and `cramers_v_type_daypart` (association strength "
    "without direction).",
    ("stats", "anova", "orders"),
)
def two_way_effects_decomposition(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dow = (
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            + 4
        )
        % 7
    )
    cells = o.groupBy(
        dow.alias("dow"), F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("s"),
    ).localCheckpoint(eager=False)
    grand = cells.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    rows_ = cells.groupBy("dow").agg(
        F.sum("n").alias("rn"), F.sum("s").alias("rs")
    )
    cols_ = cells.groupBy("priority").agg(
        F.sum("n").alias("cn"), F.sum("s").alias("cs")
    )
    gm = F.col("gs") / F.col("gn").cast("double")
    rm = F.col("rs") / F.col("rn").cast("double")
    cm = F.col("cs") / F.col("cn").cast("double")
    cellm = F.col("s") / F.col("n").cast("double")
    r2 = lambda col: F.floor(col * 100 + F.lit(0.5)) / 100.0  # noqa: E731
    return (
        cells.crossJoin(F.broadcast(grand))
        .join(F.broadcast(rows_), "dow")
        .join(F.broadcast(cols_), "priority")
        .select(
            "dow",
            "priority",
            F.col("n").cast("long").alias("n_orders"),
            r2(cellm).alias("cell_mean_cents"),
            r2(gm).alias("grand_mean_cents"),
            r2(rm - gm).alias("dow_effect_cents"),
            r2(cm - gm).alias("priority_effect_cents"),
            r2(cellm - rm - cm + gm).alias("interaction_cents"),
        )
    )
