"""Similarity search: brute-force, LSH, IVF, PQ and quantized
nearest-neighbour top-k with recall floors, semantic dedup, kNN
classification, diversity selection and string/sequence edit
distances.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....operators.similarity import brute_force_topk, label_centroids, lsh_topk
from ...core import (
    _ann_ivf_oracle,
    _hyperplane_sig_ctes,
    _kmeans_chain_ctes,
    _recall_floor_frame,
    _register,
    _t,
)


@_register(
    "ann_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.emb, c.emb) AS sim
      FROM q, c WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    "Similarity search baseline: exact cosine top-5 for a query subset; "
    "broadcast queries × partitioned candidates, JVM-side double math",
    ("similarity", "ann", "embeddings"),
)
def ann_topk_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return brute_force_topk(emb, queries_df, k=5)


@_register(
    "ann_topk_filtered",
    """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE label % 3 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.emb, c.emb) AS sim
      FROM q, c WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    "FILTERED vector search (the hybrid-search shape: metadata "
    "predicate + ANN): the label filter applies to candidates "
    "BEFORE scoring — pre-filtering, so every query returns exactly "
    "k QUALIFIED neighbors (post-filtering an unfiltered top-k can "
    "return fewer than k, or none). The predicate rides the normal "
    "Catalyst pushdown into the candidate scan; scoring cost drops "
    "with selectivity instead of growing a re-try loop",
    ("similarity", "ann", "filtered", "embeddings"),
)
def ann_topk_filtered(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    cands = emb.filter(F.col("label") % 3 == 0)
    return brute_force_topk(cands, queries_df, k=5)


def _ann_lsh_oracle(n_bands: int = 8, band_bits: int = 8, dim: int = 64,
                    seed: int = 42, k: int = 5) -> str:
    """Bit-faithful DuckDB twin of :func:`lsh_topk` — see
    :func:`_hyperplane_sig_ctes`; the bucket equi-join and cosine
    re-rank are re-derived relationally."""
    return f"""
    WITH {_hyperplane_sig_ctes(n_bands, band_bits, dim, seed)},
    pairs AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM sig q JOIN sig c ON q.band = c.band AND q.bucket = c.bucket
      WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT p.query_id, p.neighbor_id,
             list_cosine_similarity(a.emb, b.emb) AS sim
      FROM pairs p
      JOIN e a ON a.vec_id = p.query_id
      JOIN e b ON b.vec_id = p.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


@_register(
    "ann_topk_lsh",
    _ann_lsh_oracle(),
    "Similarity search scale path: random-hyperplane LSH bucketing + "
    "exact re-rank within buckets (approximate top-5). Oracle-checked "
    "bit-exactly: the seeded hyperplanes are replicated into the "
    "DuckDB twin as full-precision literals (same technique as the "
    "uint64-emulated minhash oracle), so bucketing, candidate "
    "generation and re-rank must agree row-for-row",
    ("similarity", "ann", "lsh", "embeddings"),
)
def ann_topk_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return lsh_topk(emb, queries_df, k=5, n_bands=8, band_bits=8)


@_register(
    "ann_topk_ivf",
    _ann_ivf_oracle(),
    "Similarity search scale path #2: IVF — spherical-k-means coarse "
    "quantizer (replayable, bounded lowest-id sample), candidates "
    "hash to one inverted list, queries probe n_probe lists, "
    "cogrouped per-list BLAS top-k (shuffle carries lists once, "
    "output ≤ q×probe×k rows). ORACLE (new in r4, was no_oracle): "
    "the quantizer is now fully replayable — lowest-id sample, "
    "first-k init, 10 fixed Lloyd rounds — so the DuckDB twin "
    "(_kmeans_chain_ctes) re-derives the centroids, the list "
    "assignments, the probe sets, and the per-query exact top-5, "
    "all bit-checked",
    ("similarity", "ann", "ivf", "embeddings"),
)
def ann_topk_ivf(spark, sf_dir):
    from ....operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, queries_df, k=5, n_lists=16, n_probe=4)


def _ann_pq_oracle(m: int = 8, n_codes: int = 32, dsub: int = 8,
                   iters: int = 10, train_sample: int = 4096,
                   k: int = 5, rerank_factor: int = 4) -> str:
    """Generated DuckDB twin of the (round-4 deterministic) pq_topk:
    per-subspace Euclidean k-means replayed with the standard recipe
    (lowest-id sample, first-n_codes init, argmin-d2 with lower-code
    tie-break, mean centroids, empty codes keep old), candidates
    encoded per subspace, ADC = the m LUT terms added in fixed
    subspace order, GLOBAL shortlist = top rerank_factor·k per query
    under (adc desc, id asc), exact-cosine re-rank for the top-k."""
    d2 = ("list_sum(list_transform(generate_series(1, {ds}),"
          " e -> (t.s[e] - c.c[e]) * (t.s[e] - c.c[e])))")
    parts = [f"""psamp AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rid,
             list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> x / greatest(sqrt(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))),
                 1e-300)) AS v
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {train_sample})
    ),
    pnorm AS MATERIALIZED (
      SELECT vec_id,
             list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> x / greatest(sqrt(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))),
                 1e-300)) AS v
      FROM embeddings
    )"""]
    adc_terms = []
    joins = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        parts.append(f"""pt{j} AS MATERIALIZED (
      SELECT rid, v[{lo}:{hi}] AS s FROM psamp
    ),
    pc{j}_0 AS MATERIALIZED (
      SELECT rid AS code, s AS c FROM pt{j} WHERE rid < {n_codes}
    )""")
        for i in range(1, iters + 1):
            p = i - 1
            dd = d2.format(ds=dsub)
            parts.append(f"""pa{j}_{i} AS (
      SELECT t.rid, t.s, c.code,
             row_number() OVER (PARTITION BY t.rid
               ORDER BY {dd} ASC, c.code ASC) AS rk
      FROM pt{j} t CROSS JOIN pc{j}_{p} c
    ),
    ps{j}_{i} AS (
      SELECT code, e, avg(x) AS mx
      FROM (SELECT code, unnest(s) AS x,
                   unnest(generate_series(1, {dsub})) AS e
            FROM pa{j}_{i} WHERE rk = 1)
      GROUP BY 1, 2
    ),
    pm{j}_{i} AS (
      SELECT code, list(mx ORDER BY e) AS c FROM ps{j}_{i} GROUP BY 1
    ),
    pc{j}_{i} AS MATERIALIZED (
      SELECT o.code,
             CASE WHEN n.code IS NULL THEN o.c ELSE n.c END AS c
      FROM pc{j}_{p} o LEFT JOIN pm{j}_{i} n ON n.code = o.code
    )""")
        dd_enc = (f"list_sum(list_transform(generate_series(1, {dsub}),"
                  f" e -> (t.v[{lo} + e - 1] - c.c[e])"
                  f" * (t.v[{lo} + e - 1] - c.c[e])))")
        parts.append(f"""pcode{j} AS MATERIALIZED (
      SELECT vec_id, code FROM (
        SELECT t.vec_id, c.code,
               row_number() OVER (PARTITION BY t.vec_id
                 ORDER BY {dd_enc} ASC, c.code ASC) AS rk
        FROM pnorm t CROSS JOIN pc{j}_{iters} c
      ) WHERE rk = 1
    ),
    lut{j} AS MATERIALIZED (
      SELECT q.vec_id AS qid, b.code,
             list_dot_product(q.v[{lo}:{hi}], b.c) AS t
      FROM (SELECT * FROM pnorm WHERE vec_id % 100 = 0) q
      CROSS JOIN pc{j}_{iters} b
    )""")
        joins.append(
            f"JOIN pcode{j} c{j} ON c{j}.vec_id = c0.vec_id\n"
            f"      JOIN lut{j} l{j} ON l{j}.code = c{j}.code"
            + ("" if j == 0 else f" AND l{j}.qid = l0.qid")
        )
        adc_terms.append(f"l{j}.t")
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = f"({adc} + {t})"
    join_sql = "\n      ".join(joins[1:])
    parts_sql = ",\n    ".join(parts)
    return f"""
    WITH {parts_sql},
    adc AS (
      SELECT l0.qid AS query_id, c0.vec_id AS neighbor_id,
             {adc} AS adc_sim
      FROM pcode0 c0
      JOIN lut0 l0 ON l0.code = c0.code
      {join_sql}
      WHERE c0.vec_id <> l0.qid
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_sim DESC, neighbor_id ASC) AS rn
        FROM adc
      ) WHERE rn <= {rerank_factor * k}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             list_dot_product(qa.v, na.v) AS sim
      FROM short s
      JOIN pnorm qa ON qa.vec_id = s.query_id
      JOIN pnorm na ON na.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id)
                AS INTEGER) AS rank
    FROM exact
    QUALIFY rank <= {k}
    """


@_register(
    "ann_topk_pq",
    _ann_pq_oracle(),
    "Similarity search scale path #4: product quantization (FAISS-"
    "style ADC) — m sub-space codebooks trained on a bounded sample, "
    "candidates compress to m uint8 codes (64× smaller than float64 "
    "at dim=64/m=8), queries stay exact and score via lookup tables: "
    "m table adds per candidate, no decompression, no corpus matmul; "
    "each batch pre-filters with the same (adc desc, id asc) total "
    "order the GLOBAL rerank_factor·k shortlist cut uses, so the "
    "shuffle stays shortlist-sized AND the output is batch-"
    "independent. ORACLE (new in r4, was no_oracle): the codebooks "
    "follow the replayable recipe, so the DuckDB twin "
    "(_ann_pq_oracle) replays all m sub-space k-means trainings, the "
    "encodings, the fixed-order ADC sums, the global shortlist, and "
    "the exact re-rank, bit-checked end to end",
    ("similarity", "ann", "pq", "embeddings"),
)
def ann_topk_pq(spark, sf_dir):
    from ....operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(emb, queries_df, k=5, m=8, n_codes=32)


@_register(
    "ann_ivf_recall_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(5 AS INTEGER) AS k,
           CAST(0.5 AS DOUBLE) AS recall_floor,
           TRUE AS floor_met
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    "Driver-visible quality gate for the IVF ANN tier: recall@5 of "
    "ivf_topk(n_lists=16, n_probe=4) vs the exact brute-force top-5, "
    "computed in-Spark with the production seed, must clear the "
    "pinned 0.5 floor (measured 0.64 on the near-orthogonal sf0.01 "
    "fixture; a broken index scores ~0.001). The oracle pins the "
    "expectation — k-means training makes an exact twin impractical, "
    "so the FLOOR is the cross-engine contract",
    ("similarity", "ann", "ivf", "evaluation", "embeddings"),
)
def ann_ivf_recall_floor(spark, sf_dir):
    from ....operators.similarity import ivf_topk

    return _recall_floor_frame(
        spark,
        sf_dir,
        lambda emb, q: ivf_topk(emb, q, k=5, n_lists=16, n_probe=4),
        floor=0.5,
    )


@_register(
    "ann_pq_recall_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(5 AS INTEGER) AS k,
           CAST(0.3 AS DOUBLE) AS recall_floor,
           TRUE AS floor_met
    FROM embeddings WHERE vec_id % 100 = 0
    """,
    "Driver-visible quality gate for the product-quantization ANN "
    "tier: recall@5 of pq_topk(m=8, n_codes=32) vs exact brute force "
    "must clear the pinned 0.3 floor (measured 0.44 on the near-"
    "orthogonal sf0.01 fixture, where ADC distortion dominates; a "
    "broken codebook scores ~0.001). Oracle pins the expectation — "
    "codebook training makes an exact twin impractical",
    ("similarity", "ann", "pq", "evaluation", "embeddings"),
)
def ann_pq_recall_floor(spark, sf_dir):
    from ....operators.similarity import pq_topk

    return _recall_floor_frame(
        spark,
        sf_dir,
        lambda emb, q: pq_topk(emb, q, k=5, m=8, n_codes=32),
        floor=0.3,
    )


@_register(
    "embedding_label_centroids",
    """
    SELECT label,
           CAST(pos - 1 AS INTEGER) AS pos,
           count(*) AS n_vectors,
           round(avg(val), 6) AS centroid_val
    FROM (SELECT label,
                 unnest(CAST(embedding AS DOUBLE[])) AS val,
                 unnest(generate_series(1, len(embedding))) AS pos
          FROM embeddings)
    GROUP BY label, pos
    """,
    "Per-label centroids in long form via posexplode + (label,pos) agg — "
    "distributed vector mean without driver materialization",
    ("similarity", "agg", "embeddings"),
)
def embedding_label_centroids(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb)


@_register(
    "embedding_zscore_by_label",
    """
    WITH un AS (
      SELECT vec_id, label,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings
    ),
    stats AS (
      SELECT label, pos, avg(val) AS m, stddev_pop(val) AS s
      FROM un GROUP BY label, pos
    )
    SELECT un.vec_id,
           CAST(un.pos - 1 AS INTEGER) AS pos,
           round((un.val - stats.m) / nullif(stats.s, 0), 4) + 0.0 AS zscore
    FROM un JOIN stats ON un.label = stats.label AND un.pos = stats.pos
    """,
    "Grouped-map pandas op (§2.11 applyInPandas): per-label per-dim "
    "z-score normalization of embeddings — numpy math inside the group, "
    "shuffle only by label",
    ("similarity", "pandas_udf", "embeddings"),
)
def embedding_zscore_by_label(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("pos", IntegerType()),
            StructField("zscore", DoubleType()),
        ]
    )

    # self-contained closure: workers may not have this package on path
    def zscore(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        m = mat.mean(axis=0)
        s = mat.std(axis=0)  # population std, ddof=0
        with np.errstate(divide="ignore", invalid="ignore"):
            z = np.where(s == 0, np.nan, (mat - m) / s)
        n, d = z.shape
        return pd.DataFrame(
            {
                "vec_id": np.repeat(ids, d),
                "pos": np.tile(np.arange(d, dtype=np.int32), n),
                "zscore": z.ravel(),
            }
        )

    return (
        emb.groupBy("label")
        .applyInPandas(zscore, out_schema)
        .select("vec_id", "pos", (F.round("zscore", 4) + F.lit(0.0)).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Quantization, paragraph dedup, per-group reservoir sampling
# ---------------------------------------------------------------------------

@_register(
    "embedding_quantize_error",
    """
    WITH u AS (
      SELECT label,
             list_transform(
               embedding,
               x -> CAST(x AS DOUBLE) /
                    greatest(sqrt(list_sum(list_transform(
                      embedding, y -> CAST(y AS DOUBLE) * y))), 1e-300)
             ) AS unit
      FROM embeddings
    ),
    q AS (
      SELECT label, unit,
             greatest(list_max(list_transform(unit, x -> abs(x))) / 127.0,
                      1e-30) AS scale
      FROM u
    ),
    e AS (
      SELECT label, scale,
             list_max(list_transform(
               unit, x -> abs(x - floor(x / scale + 0.5) * scale))) AS err
      FROM q
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(max(err) * 1e6 + 0.5) / 1e6 AS max_abs_err,
           floor(max(scale) * 1e6 + 0.5) / 1e6 AS max_scale
    FROM e
    GROUP BY label
    """,
    "Int8 scalar quantization audit: unit-normalize, quantize each "
    "axis to round(x/scale) with scale=max|x|/127, and report the "
    "per-label worst reconstruction error (bounded by scale/2) — the "
    "4-8x memory/bandwidth scale path for vector search, computed "
    "entirely JVM-side (array HOFs, zero Python). Oracle replays the "
    "identical IEEE arithmetic via DuckDB list lambdas; half-up "
    "floor-rounding keeps the codes bit-identical across engines. "
    "Operator: operators/similarity.py::quantize_int8",
    ("similarity", "quantization", "embeddings"),
)
def embedding_quantize_error(spark, sf_dir):
    from ....operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    # keep_norm_col: reuse the operator's ONE materialized per-row
    # norm — recomputing it as a fresh fold alias referenced inside
    # the zip_with lambda gets project-collapsed and re-evaluated
    # per element (O(d²)/row; the 20.6× sf1 finding)
    qd = quantize_int8(emb, keep_norm_col="_nrm")
    # reconstruct from the int8 codes and measure per-vector worst error
    qd = qd.withColumn(
        "_err",
        F.array_max(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                "qvec",
                lambda x, c: F.abs(
                    x / F.col("_nrm") - c.cast("double") * F.col("qscale")
                ),
            )
        ),
    )
    return qd.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        (F.floor(F.max("_err") * 1e6 + F.lit(0.5)) / 1e6).alias("max_abs_err"),
        (F.floor(F.max("qscale") * 1e6 + F.lit(0.5)) / 1e6).alias("max_scale"),
    )


@_register(
    "ann_topk_quantized",
    """
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embd
      FROM embeddings
    ),
    nrm AS (
      SELECT vec_id, embd,
             greatest(sqrt(list_reduce(list_prepend(0.0,
                list_transform(embd, x -> x * x)), (a, b) -> a + b)),
                1e-300) AS nv
      FROM base
    ),
    unitv AS (
      SELECT vec_id, list_transform(embd, x -> x / nv) AS u FROM nrm
    ),
    scl AS (
      SELECT vec_id, u,
             greatest(list_max(list_transform(u, x -> abs(x))) / 127.0,
                      1e-30) AS s
      FROM unitv
    ),
    codes AS (
      SELECT vec_id, s, list_transform(u, x -> floor(x / s + 0.5)) AS c
      FROM scl
    ),
    scored AS (
      SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
             list_dot_product(q.c, cd.c) * (cd.s * q.s) AS sim
      FROM codes q JOIN codes cd ON cd.vec_id <> q.vec_id
      WHERE q.vec_id % 100 = 0
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    "Similarity search scale path #3: int8-quantized brute force — "
    "1-byte codes shrink the broadcast and shuffle 4-8x and score "
    "with int32-accumulated int8 GEMM; scores rescaled per-pair by "
    "the two quantization scales. Recall vs exact cosine asserted in "
    "tests/test_similarity_quantized.py. Oracle-checked bit-exactly: "
    "quantization is a sequential fold + elementwise arithmetic "
    "(Spark F.aggregate/F.transform ≡ DuckDB list_reduce/"
    "list_transform, same IEEE order), integer-code dots are exact "
    "below 2^24, and the rescale expression order matches — so the "
    "DuckDB twin reproduces codes, scores, and ranking",
    ("similarity", "ann", "quantization", "embeddings"),
)
def ann_topk_quantized(spark, sf_dir):
    from ....operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return quantized_topk(emb, queries_df, k=5)


def _semantic_dedup_oracle(threshold: float = 0.92) -> str:
    """DuckDB twin of ``semantic_dedup``: the replayable quantizer
    chain (``_kmeans_chain_ctes``, train_sample=4096 as the operator
    uses) derives the lists, then a RECURSIVE CTE replays the per-
    list ε-net scan — members visited ascending id, state = the kept
    ids + kept vectors per list, a member drops iff its max cosine
    to the kept set reaches the threshold, ``dup_of`` = the first
    max-cosine keeper (numpy first-argmax ≡ list_position's first
    match)."""
    return f"""
    WITH RECURSIVE {_kmeans_chain_ctes(train_sample=4096)},
    ordered AS (
      SELECT k.cluster_id AS list_id, k.vec_id, a.v,
             row_number() OVER (PARTITION BY k.cluster_id
                                ORDER BY k.vec_id) AS rnk
      FROM kassign k JOIN kalln a USING (vec_id)
    ),
    rec(list_id, rnk, kept_ids, kept_vs, vec_id, keep, dup_of) AS (
      SELECT list_id, 0, []::BIGINT[], []::DOUBLE[][],
             NULL::BIGINT, NULL::BOOLEAN, NULL::BIGINT
      FROM (SELECT DISTINCT list_id FROM ordered)
      UNION ALL
      SELECT o.list_id, o.rnk,
             CASE WHEN s.dropped THEN r.kept_ids
                  ELSE list_append(r.kept_ids, o.vec_id) END,
             CASE WHEN s.dropped THEN r.kept_vs
                  ELSE list_append(r.kept_vs, o.v) END,
             o.vec_id,
             NOT s.dropped,
             CASE WHEN s.dropped
                  THEN r.kept_ids[list_position(s.sims, s.mx)] END
      FROM rec r
      JOIN ordered o ON o.list_id = r.list_id AND o.rnk = r.rnk + 1,
      LATERAL (
        SELECT sims, mx,
               len(sims) > 0 AND mx >= {threshold} AS dropped
        FROM (SELECT list_transform(r.kept_vs,
                       kv -> list_dot_product(kv, o.v)) AS sims,
                     list_max(list_transform(r.kept_vs,
                       kv -> list_dot_product(kv, o.v))) AS mx)
      ) s
    )
    SELECT vec_id, list_id, keep, dup_of
    FROM rec WHERE rnk >= 1
    """


@_register(
    "semantic_dedup_embeddings",
    _semantic_dedup_oracle(threshold=0.92),
    "SemDeDup-style semantic deduplication: spherical-k-means lists "
    "partition the corpus (same coarse quantizer as the IVF ANN "
    "tier), then ids are visited ascending within each list and a "
    "vector is dropped iff cosine >= 0.92 to an already-kept one "
    "(greedy epsilon-net, deterministic). O(m^2) similarity only "
    "WITHIN a list (executor-local BLAS), one shuffle keyed by "
    "list_id — the embedding-space dedup pass a training pipeline "
    "runs after exact/minhash text dedup. The driver-visible oracle "
    "row `semantic_dedup_net_invariant` (families/mining/similarity.py) pins the "
    "partition/epsilon-net/coverage properties",
    ("dedup", "semantic", "embeddings"),
)
def semantic_dedup_embeddings(spark, sf_dir):
    from ....operators.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.92)


@_register(
    "knn_classify_embeddings",
    """
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
    ),
    stride AS (
      SELECT greatest(1, CAST(ceil(count(*) / 2000.0) AS BIGINT)) AS s
      FROM embeddings
    ),
    q AS (
      SELECT * FROM v
      WHERE ((vec_id * 2654435761) % 4294967296)
            % (SELECT s FROM stride) = 0
    ),
    scored AS (
      SELECT a.vec_id AS qid, a.label AS true_label,
             b.vec_id AS nid, b.label AS nbr_label,
             list_cosine_similarity(a.emb, b.emb) AS sim
      FROM q a, v b WHERE a.vec_id <> b.vec_id
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, nid) AS rnk
        FROM scored
      ) WHERE rnk <= 10
    ),
    tally AS (
      SELECT qid, true_label, nbr_label,
             CAST(count(*) AS BIGINT) AS votes
      FROM top GROUP BY 1, 2, 3
    )
    SELECT qid AS vec_id, true_label,
           nbr_label AS predicted_label,
           true_label = nbr_label AS is_correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY votes DESC, nbr_label) AS pick
      FROM tally
    ) WHERE pick = 1
    """,
    "k-NN label classification over the embedding table (the "
    "label-propagation / auto-labeling primitive): each query vector "
    "is classified by majority vote of its 10 exact-cosine nearest "
    "neighbors in the FULL corpus (self excluded, ties sim-desc→id, "
    "vote ties count-desc→label). Built on the same batched-GEMM "
    "top-k as the ANN baseline — queries broadcast, shuffle carries "
    "k-sized winners, never the N² score matrix. Scale-safe query "
    "side (r5, same pattern as lsh_blocking_quality): classifying "
    "EVERY vector is O(n²) in corpus size, so the query set is a "
    "deterministic ~2k-vector Knuth-hash stratum (stride derived "
    "from corpus size, oracle states the same stratum) while the "
    "corpus side stays full — cost grows linearly with the corpus, "
    "and at sf<=0.1 the stride is 1 so the stratum IS every vector "
    "(bit-identical to the r4 row). Measured sf1/sf0.1: 67x -> "
    "~linear. The production batch-labeling shape is exactly this: "
    "classify a batch of queries against the full labeled corpus",
    ("similarity", "embeddings", "classify", "knn"),
)
def knn_classify_embeddings(spark, sf_dir):
    import math

    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    stride = max(1, math.ceil(emb.count() / 2000))
    qside = emb.filter(
        ((F.col("vec_id") * F.lit(2_654_435_761)) % F.lit(4_294_967_296))
        % F.lit(stride)
        == 0
    )
    nbrs = brute_force_topk(emb, qside, k=10)
    votes = nbrs.join(
        labels.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nbr_label"),
        ),
        "neighbor_id",
    )
    tally = votes.groupBy("query_id", "nbr_label").agg(
        F.count("*").alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("nbr_label")
    )
    pred = (
        tally.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("nbr_label").alias("predicted_label"),
        )
    )
    return pred.join(labels, "vec_id").select(
        "vec_id",
        F.col("label").alias("true_label"),
        "predicted_label",
        (F.col("label") == F.col("predicted_label")).alias("is_correct"),
    )


# ---------------------------------------------------------------------------
# Z-normalized subsequence similarity search (UCR-style, EDBT'19 shape)
# ---------------------------------------------------------------------------

@_register(
    "ts_subsequence_match_hourly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(floor(round(sum(value), 4) * 100 + 0.5) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT list(cents ORDER BY h) AS arr,
             list(h ORDER BY h) AS hs
      FROM hourly
    ),
    znq AS (
      SELECT arr, hs, len(arr) AS n,
             list_transform(range(1, 25), i -> arr[i] * 1.0) AS q
      FROM s
    ),
    qstats AS (
      SELECT arr, hs, n, q,
             list_reduce(q, (a, x) -> a + x) / 24 AS qmu,
             sqrt(list_reduce(list_transform(q, x -> x * x), (a, x) -> a + x)
                  / 24
                  - (list_reduce(q, (a, x) -> a + x) / 24)
                    * (list_reduce(q, (a, x) -> a + x) / 24) + 1e-12) AS qsd
      FROM znq
    ),
    cand AS (
      SELECT hs[st] AS window_start, st, arr, n, q, qmu, qsd
      FROM qstats, (SELECT unnest(range(25, (SELECT n FROM znq) - 22)) AS st)
    ),
    wstats AS (
      SELECT window_start, st, arr, q, qmu, qsd,
             list_transform(range(0, 24), j -> arr[st + j] * 1.0) AS w
      FROM cand
    ),
    wz AS (
      SELECT window_start, st, q, qmu, qsd, w,
             list_reduce(w, (a, x) -> a + x) / 24 AS wmu,
             sqrt(list_reduce(list_transform(w, x -> x * x), (a, x) -> a + x)
                  / 24
                  - (list_reduce(w, (a, x) -> a + x) / 24)
                    * (list_reduce(w, (a, x) -> a + x) / 24) + 1e-12) AS wsd
      FROM wstats
    ),
    dist AS (
      SELECT window_start,
             floor(
               list_reduce(
                 list_transform(range(0, 24),
                   j -> ((w[j + 1] - wmu) / wsd - (q[j + 1] - qmu) / qsd)
                        * ((w[j + 1] - wmu) / wsd - (q[j + 1] - qmu) / qsd)),
                 (a, x) -> a + x) * 10000 + 0.5) / 10000.0 AS zdist
      FROM wz
    )
    SELECT window_start, zdist,
           CAST(row_number() OVER (ORDER BY zdist, window_start) AS INTEGER)
             AS rank
    FROM dist
    QUALIFY rank <= 10
    """,
    "Z-normalized subsequence similarity search over the hourly "
    "revenue-proxy series (UCR-suite / streaming-similarity shape, "
    "EDBT'19): the first 24 hours form the query pattern; every "
    "later 24-hour window z-normalizes and scores by squared "
    "Euclidean distance; top-10 closest windows returned. Hourly "
    "sums convert to integer cents, every mean/σ/distance is one "
    "deterministic expression over them, and the whole search runs "
    "as index folds over the series array — at 100 TB the series "
    "per key is bounded, and per-key searches parallelize across "
    "the keyed partitioning",
    ("timeseries", "similarity", "hof", "events"),
)
def ts_subsequence_match_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.floor(F.round(F.sum("value"), 4) * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    s = hourly.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "cents"))),
            lambda x: x["cents"],
        ).alias("arr"),
        F.array_sort(F.collect_list("h")).alias("hs"),
    )
    arr = F.col("arr")
    n = F.size(arr)
    m = 24

    def mean_of(vec):
        return F.aggregate(vec, F.lit(0.0), lambda a, x: a + x) / m

    def sd_of(vec, mu):
        sq = F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
        return F.sqrt(sq / m - mu * mu + F.lit(1e-12))

    q = F.transform(F.sequence(F.lit(1), F.lit(m)), lambda i: F.element_at(arr, i) * 1.0)
    base = s.select(
        arr.alias("arr"),
        F.col("hs").alias("hs"),
        n.alias("n"),
        q.alias("q"),
    ).select(
        "*",
        mean_of(F.col("q")).alias("qmu"),
    ).select("*", sd_of(F.col("q"), F.col("qmu")).alias("qsd"))
    cand = base.select(
        "*", F.explode(F.sequence(F.lit(m + 1), F.col("n") - m + 1)).alias("st")
    )
    w = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.element_at(F.col("arr"), F.col("st") + j) * 1.0,
    )
    cand = cand.select(
        F.element_at("hs", F.col("st")).alias("window_start"),
        "q", "qmu", "qsd", w.alias("w"),
    ).select("*", mean_of(F.col("w")).alias("wmu")).select(
        "*", sd_of(F.col("w"), F.col("wmu")).alias("wsd")
    )
    zd = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: (
                (F.element_at(F.col("w"), j + 1) - F.col("wmu")) / F.col("wsd")
                - (F.element_at(F.col("q"), j + 1) - F.col("qmu")) / F.col("qsd")
            )
            * (
                (F.element_at(F.col("w"), j + 1) - F.col("wmu")) / F.col("wsd")
                - (F.element_at(F.col("q"), j + 1) - F.col("qmu")) / F.col("qsd")
            ),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dist = cand.select(
        "window_start",
        (F.floor(zd * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias("zdist"),
    )
    return dist.select(
        "window_start",
        "zdist",
        F.row_number()
        .over(Window.orderBy("zdist", "window_start"))
        .cast("int")
        .alias("rank"),
    ).filter(F.col("rank") <= 10)


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive / retrieval training pairs)
# ---------------------------------------------------------------------------

@_register(
    "hard_negative_mining",
    """
    WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.emb, c.emb) AS sim
      FROM q JOIN c ON c.label <> q.label
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    "Hard-negative mining for contrastive/retrieval training: each "
    "query's top-5 most-similar OTHER-label vectors — the near-miss "
    "examples that teach an encoder the decision boundary. The "
    "same-label mask is a per-query predicate (no candidate "
    "pre-filter expresses it), applied to the similarity matrix "
    "before the per-batch local top-k, so the shuffle stays k-sized "
    "exactly like ann_topk_bruteforce",
    ("similarity", "ann", "training", "embeddings"),
)
def hard_negative_mining(spark, sf_dir):
    from ....operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return hard_negatives(emb, queries_df, k=5)


# ---------------------------------------------------------------------------
# MMR diverse representatives (oracle: unrolled greedy rounds)
# ---------------------------------------------------------------------------


def _mmr_oracle(k: int = 5, lam: float = 0.7) -> str:
    """DuckDB twin of ``mmr_select`` via UNROLLED greedy rounds: the
    per-group recurrence is deterministic (argmax on scores rounded
    to 12 dp, ascending-id tie-break — exactly what the numpy side
    computes), so round r is one CTE that anti-joins the picks so
    far, takes max-similarity-to-picked, and window-selects the
    arg-max. Cross-engine float freedom is limited to dot-product
    summation order (~1e-16), absorbed by the 12-dp argmax rounding
    and the 4-dp output rounding."""
    om = repr(1.0 - lam)  # bit-exact same constant as numpy
    rounds = []
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT label, vec_id, v FROM p{i}" for i in range(1, r)
        )
        rounds.append(f"""
    sel{r} AS ({prev}),
    ms{r} AS (
      SELECT r.label, r.vec_id, max(list_dot_product(r.v, s.v)) AS ms
      FROM rel r JOIN sel{r} s ON s.label = r.label
      GROUP BY 1, 2
    ),
    p{r} AS (
      SELECT r.label, r.vec_id, r.v,
             {lam} * r.rel - {om} * m.ms AS score
      FROM rel r
      JOIN ms{r} m ON m.label = r.label AND m.vec_id = r.vec_id
      LEFT JOIN sel{r} x ON x.label = r.label AND x.vec_id = r.vec_id
      WHERE x.vec_id IS NULL
      QUALIFY row_number() OVER (
        PARTITION BY r.label
        ORDER BY round({lam} * r.rel - {om} * m.ms,
                       12) DESC,
                 r.vec_id) = 1
    )""")
    finals = " UNION ALL ".join(
        f"SELECT label, vec_id, {i} AS pick_rank, score FROM p{i}"
        for i in range(1, k + 1)
    )
    return f"""
    WITH pool AS (
      SELECT label, vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw
      FROM embeddings WHERE vec_id % 4 = 0
    ),
    e AS (
      SELECT label, vec_id,
             list_transform(
               raw,
               x -> x / greatest(sqrt(list_dot_product(raw, raw)),
                                 1e-300)) AS v
      FROM pool
    ),
    dims AS (
      SELECT label, vec_id, unnest(v) AS x,
             unnest(generate_series(1, len(v))) AS d
      FROM e
    ),
    cent AS (
      SELECT label, list(c ORDER BY d) AS c
      FROM (SELECT label, d, avg(x) AS c FROM dims GROUP BY 1, 2)
      GROUP BY 1
    ),
    centn AS (
      SELECT label,
             list_transform(
               c,
               x -> x / greatest(sqrt(list_dot_product(c, c)),
                                 1e-300)) AS c
      FROM cent
    ),
    rel AS (
      SELECT e.label, e.vec_id, e.v,
             list_dot_product(e.v, cn.c) AS rel
      FROM e JOIN centn cn ON cn.label = e.label
    ),
    p1 AS (
      SELECT label, vec_id, v, {lam} * rel AS score
      FROM rel
      QUALIFY row_number() OVER (
        PARTITION BY label
        ORDER BY round({lam} * rel, 12) DESC, vec_id) = 1
    ),{",".join(rounds)}
    SELECT label AS "group", vec_id,
           CAST(pick_rank AS INTEGER) AS pick_rank,
           floor(score * 10000 + 0.5) / 10000.0 AS mmr_score
    FROM ({finals})
    """


@_register(
    "mmr_diverse_representatives",
    _mmr_oracle(k=5, lam=0.7),
    "Maximal-Marginal-Relevance selection of 5 diverse "
    "representatives per embedding label (λ=0.7 relevance-to-"
    "centroid vs similarity-to-already-picked): the data-selection "
    "primitive for building small-but-diverse eval/finetune pools. "
    "Sequential greedy recurrence per group → one grouped "
    "applyInPandas pass over a BOUNDED candidate pool (quarter "
    "sample here; top-N-by-quality in production), one shuffle on "
    "the group key. ORACLE (new in r4, was rows-only): the greedy is "
    "deterministic — argmax on 12-dp-rounded scores with ascending-"
    "id tie-break — so the DuckDB twin unrolls the 5 rounds as "
    "chained CTEs (anti-join picks, max-sim-to-picked, windowed "
    "argmax) and every pick, rank, and 4-dp score must match",
    ("similarity", "selection", "diversity", "embeddings"),
)
def mmr_diverse_representatives(spark, sf_dir):
    from ....operators.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    out = mmr_select(emb, k=5, lam=0.7, group_col="label")
    return out.select(
        "group",
        "vec_id",
        "pick_rank",
        (F.floor(F.col("mmr_score") * 10000 + F.lit(0.5)) / F.lit(10000.0))
        .alias("mmr_score"),
    )


@_register(
    "edit_distance_pairs_parts",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER)
             AS edit_distance
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    "Edit-distance similarity self-join (typo-tolerant record "
    "linkage): all part-name pairs within Levenshtein distance 2 via "
    "operators/strings.py::edit_distance_self_join with "
    "method='deletes' — SymSpell symmetric-delete blocking (ed ≤ k "
    "⟹ the ≤k-deletion neighborhoods intersect, a LOSSLESS "
    "candidate join on hashed deletion variants), then a codegen "
    "levenshtein verify on survivors only — never a cross product. "
    "Part names are built from a ~90-word vocabulary, so the q-gram "
    "variant's posting lists collide corpus-wide (305 s at sf0.1); "
    "deletion blocking keys on near-identity instead (seconds). The "
    "oracle states the O(n²) truth; both engines' levenshtein is "
    "the standard unit-cost distance",
    ("similarity", "strings", "linkage", "part"),
)
def edit_distance_pairs_parts(spark, sf_dir):
    from ....operators.strings import edit_distance_self_join

    p = _t(spark, sf_dir, "part")
    return edit_distance_self_join(
        p, text_col="p_name", id_col="p_partkey", max_dist=2,
        method="deletes",
    )


# event_type -> one char (sorted by type name for determinism)
_SESS_CODE = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}
_SESS_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in sorted(_SESS_CODE.items()))
    + " ELSE '?' END"
)
_SESS_CAP = 64


@_register(
    "session_edit_distance_pairs",
    f"""
    WITH seqs AS (
      SELECT user_id,
             substr(string_agg({_SESS_CASE}, '' ORDER BY ts, event_id),
                    1, {_SESS_CAP}) AS s
      FROM events GROUP BY user_id
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(length(a.s) AS INTEGER) AS len_a,
           CAST(length(b.s) AS INTEGER) AS len_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS edit_distance,
           floor(levenshtein(a.s, b.s)
                 / CAST(greatest(length(a.s), length(b.s)) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS normalized_distance
    FROM seqs a JOIN seqs b ON b.user_id = a.user_id + 1
    """,
    "Behavioral edit distance between user event sequences: each "
    "user's chronological event types encode to a compact string "
    "(one deterministic char per type, capped at "
    f"{_SESS_CAP} events), and consecutive-id user pairs score "
    "with Levenshtein — both engines run their native DP "
    "implementation of the SAME metric, so the integers match "
    "without any fold gymnastics (the trick "
    "`edit_distance_pairs_parts` proved on part names, here lifted "
    "to SEQUENCES: alignment distance over behavior, the "
    "session-similarity primitive behind journey clustering and "
    "bot detection). One user rollup with an in-group sort bounded "
    "per user; the pair join is an equi-join on adjacent ids.",
    ("sequence", "similarity", "events"),
)
def session_edit_distance_pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    code = F.when(F.col("event_type") == "click", "c")
    for t, c in sorted(_SESS_CODE.items()):
        if t != "click":
            code = code.when(F.col("event_type") == t, c)
    code = code.otherwise("?")
    seqs = (
        e.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", code.alias("ch")))
            ).alias("seq")
        )
        .select(
            "user_id",
            F.substring(
                F.array_join(
                    F.transform(F.col("seq"), lambda x: x["ch"]), ""
                ),
                1,
                _SESS_CAP,
            ).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    a = seqs.select(F.col("user_id").alias("user_a"), F.col("s").alias("sa"))
    b = seqs.select(
        (F.col("user_id") - 1).alias("user_a"),
        F.col("user_id").alias("user_b"),
        F.col("s").alias("sb"),
    )
    lev = F.levenshtein(F.col("sa"), F.col("sb"))
    return a.join(b, "user_a").select(
        "user_a",
        "user_b",
        F.length("sa").cast("int").alias("len_a"),
        F.length("sb").cast("int").alias("len_b"),
        lev.cast("int").alias("edit_distance"),
        (
            F.floor(
                lev
                / F.greatest(F.length("sa"), F.length("sb")).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("normalized_distance"),
    )


# ---------------------------------------------------------------------------
# Soundex phonetic blocking over part-name head words
# ---------------------------------------------------------------------------

_SDX_CLASSES = {
    1: "bfpv",
    2: "cgjkqsxz",
    3: "dt",
    4: "l",
    5: "mn",
    6: "r",
}
_SDX_CODE = {c: d for d, cs in _SDX_CLASSES.items() for c in cs}


def _sdx_code_sql(expr: str) -> str:
    return (
        f"CASE {expr} "
        + " ".join(
            f"WHEN '{c}' THEN {d}" for c, d in sorted(_SDX_CODE.items())
        )
        + " WHEN 'h' THEN -1 WHEN 'w' THEN -1 ELSE 0 END"
    )


@_register(
    "soundex_blocking_parts",
    f"""
    WITH words AS (
      SELECT p_partkey,
             list_filter(string_split_regex(lower(p_name), '[^a-z]+'),
                         x -> x <> '')[1] AS w
      FROM part
    ),
    coded AS (
      SELECT p_partkey, w,
             list_transform(
               list_transform(generate_series(2, length(w)),
                 i -> substr(w, CAST(i AS INTEGER), 1)),
               c -> [CAST({_sdx_code_sql("c")} AS BIGINT),
                     CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                     CAST(0 AS BIGINT), CAST(0 AS BIGINT)]) AS xs,
             CAST({_sdx_code_sql("substr(w, 1, 1)")} AS BIGINT)
               AS first_code
      FROM words WHERE length(w) >= 1
    ),
    folded AS (
      -- acc = [prev_code, d1, d2, d3, filled]; American Soundex:
      -- h/w (-1) keep prev, vowels (0) reset prev, a new nonzero
      -- code different from prev appends (max 3 digits)
      SELECT p_partkey, w, first_code,
             list_reduce(
               list_prepend([greatest(first_code, CAST(0 AS BIGINT)),
                             CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                             CAST(0 AS BIGINT), CAST(0 AS BIGINT)], xs),
               (acc, x) -> [
                 CASE WHEN x[1] = -1 THEN acc[1] ELSE x[1] END,
                 CASE WHEN x[1] > 0 AND x[1] <> acc[1] AND acc[5] = 0
                      THEN x[1] ELSE acc[2] END,
                 CASE WHEN x[1] > 0 AND x[1] <> acc[1] AND acc[5] = 1
                      THEN x[1] ELSE acc[3] END,
                 CASE WHEN x[1] > 0 AND x[1] <> acc[1] AND acc[5] = 2
                      THEN x[1] ELSE acc[4] END,
                 CASE WHEN x[1] > 0 AND x[1] <> acc[1]
                           AND acc[5] < 3
                      THEN acc[5] + 1 ELSE acc[5] END
               ]) AS st
      FROM coded
    ),
    keyed AS (
      SELECT p_partkey,
             upper(substr(w, 1, 1)) || CAST(st[2] AS VARCHAR)
               || CAST(st[3] AS VARCHAR) || CAST(st[4] AS VARCHAR)
               AS sdx
      FROM folded
    ),
    blocks AS (
      SELECT sdx, CAST(count(*) AS BIGINT) AS block_size,
             CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts
      FROM keyed GROUP BY 1
    )
    SELECT sdx, block_size, n_parts,
           CAST(block_size * (block_size - 1) / 2 AS BIGINT)
             AS candidate_pairs
    FROM blocks WHERE block_size >= 2
    """,
    "Soundex phonetic blocking over part-name head words — the "
    "record-linkage blocking key that survives TYPOS exact keys "
    "miss (American Soundex: first letter + 3 consonant-class "
    "digits, h/w transparent, vowels reset — the whole algorithm "
    "GENERATED as an identical 5-slot integer fold in both "
    "engines, since DuckDB ships no soundex). Emits every block "
    "of >=2 names with its candidate-pair budget — the blocking "
    "stage that feeds `part_name_edit_distance_pairs`-style "
    "verification, quadratic only within phonetic buckets (the "
    "same contract as the LSH/gram blocking tiers). Scan-local "
    "key derivation; one shuffle on the 4-char key.",
    ("linkage", "phonetic", "blocking", "part"),
)
def soundex_blocking_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = F.element_at(
        F.filter(
            F.split(F.lower(F.col("p_name")), "[^a-z]+"), lambda x: x != ""
        ),
        1,
    )
    words = p.select("p_partkey", w.alias("w")).filter(
        F.length("w") >= 1
    )

    def code_of(c):
        expr = F.when(c == "b", 1)
        for ch, d in sorted(_SDX_CODE.items()):
            if ch != "b":
                expr = expr.when(c == ch, d)
        return expr.when(c == "h", -1).when(c == "w", -1).otherwise(0)

    xs = F.transform(
        F.sequence(F.lit(2), F.length("w")),
        lambda i: code_of(F.col("w").substr(i, F.lit(1))).cast("long"),
    )
    first_code = code_of(F.col("w").substr(1, 1)).cast("long")
    init = F.struct(
        F.greatest(first_code, F.lit(0).cast("long")).alias("prev"),
        F.lit(0).cast("long").alias("d1"),
        F.lit(0).cast("long").alias("d2"),
        F.lit(0).cast("long").alias("d3"),
        F.lit(0).cast("long").alias("filled"),
    )

    def step(acc, x):
        appends = (x > 0) & (x != acc["prev"])
        return F.struct(
            F.when(x == -1, acc["prev"]).otherwise(x).alias("prev"),
            F.when(appends & (acc["filled"] == 0), x)
            .otherwise(acc["d1"])
            .alias("d1"),
            F.when(appends & (acc["filled"] == 1), x)
            .otherwise(acc["d2"])
            .alias("d2"),
            F.when(appends & (acc["filled"] == 2), x)
            .otherwise(acc["d3"])
            .alias("d3"),
            F.when(appends & (acc["filled"] < 3), acc["filled"] + 1)
            .otherwise(acc["filled"])
            .alias("filled"),
        )

    st = F.aggregate(xs, init, step)
    sdx = F.concat(
        F.upper(F.col("w").substr(1, 1)),
        st["d1"].cast("string"),
        st["d2"].cast("string"),
        st["d3"].cast("string"),
    )
    keyed = words.select("p_partkey", sdx.alias("sdx"))
    blocks = keyed.groupBy("sdx").agg(
        F.count("*").alias("block_size"),
        F.countDistinct("p_partkey").alias("n_parts"),
    )
    return blocks.filter(F.col("block_size") >= 2).select(
        "sdx",
        F.col("block_size").cast("long").alias("block_size"),
        F.col("n_parts").cast("long").alias("n_parts"),
        F.expr("CAST(block_size * (block_size - 1) / 2 AS BIGINT)").alias(
            "candidate_pairs"
        ),
    )


def _norm_dot(a, b):
    """Cosine of two array<double> columns, JVM-side (zip_with dot /
    norms)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    na = F.sqrt(
        F.aggregate(
            F.zip_with(a, a, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.zip_with(b, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return dot / (na * nb)


@_register(
    "semantic_dedup_net_invariant",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(0.92 AS DOUBLE) AS theta,
           TRUE AS partition_ok,
           TRUE AS net_ok,
           TRUE AS coverage_ok
    FROM embeddings
    """,
    "Driver-visible correctness gate for SemDeDup "
    "(semantic_dedup_embeddings): (1) PARTITION — every row is "
    "either kept with null dup_of or dropped with a non-null "
    "absorber; (2) ε-NET — no two KEPT vectors in the same quantizer "
    "list have cosine ≥ θ (list-local pair join, executor-sized "
    "lists); (3) COVERAGE — every dropped vector's absorber is a "
    "KEPT vector in the same list with smaller id and cosine ≥ θ. "
    "These define the greedy ε-net rule; a broken visit order or "
    "threshold comparison flips one. Oracle pins the expectation — "
    "the seeded quantizer makes an exact twin impractical",
    ("dedup", "semantic", "evaluation", "embeddings"),
)
def semantic_dedup_net_invariant(spark, sf_dir):
    from ....operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    sd = semantic_dedup(emb, threshold=0.92).localCheckpoint(eager=False)
    vecs = emb.select("vec_id", "embedding")
    sdv = sd.join(vecs, "vec_id")

    partition_ok = sd.agg(
        (
            F.sum(
                F.when(
                    (F.col("keep") & F.col("dup_of").isNull())
                    | (~F.col("keep") & F.col("dup_of").isNotNull()),
                    0,
                ).otherwise(1)
            )
            == 0
        ).alias("ok"),
        F.count("*").alias("n_vectors"),
    )

    kept = sdv.filter("keep").select(
        F.col("list_id").alias("_l"),
        F.col("vec_id").alias("_ida"),
        F.col("embedding").alias("_va"),
    )
    # ε-NET check as list-local BLAS (r5): the kept×kept pair space
    # is quadratic in list size, and grading it through a DataFrame
    # self-join with per-pair zip_with folds cost 97 s at sf1 (30×
    # sf0.1). One normalized GEMM per list — the production
    # operator's own arithmetic (similarity.py::dedup_list) — counts
    # the same violations in O(m²) BLAS flops: 1.6 GFLOP at sf1,
    # sub-second. Same semantics, same executor-local locality.
    from pyspark.sql.types import LongType, StructField, StructType

    viol_schema = StructType(
        [
            StructField("list_id", LongType()),
            StructField("viol", LongType()),
        ]
    )

    def _net_check(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "list_id": pdf["_l"].iloc[:1].astype("int64"),
                    "viol": [0][: len(pdf)],
                }
            )
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["_va"]]
        )
        mat /= np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
        )
        sims = mat @ mat.T
        # grade each unordered pair ONCE via the upper triangle: a
        # threaded/blocked GEMM is not guaranteed exactly symmetric,
        # so (sims >= t).sum() // 2 could floor an odd count when a
        # borderline pair straddles the threshold asymmetrically
        # (matches the old _ida < _idb join semantics)
        iu = np.triu_indices(len(mat), k=1)
        return pd.DataFrame(
            {
                "list_id": [int(pdf["_l"].iloc[0])],
                "viol": [int((sims[iu] >= 0.92).sum())],
            }
        )

    net_viol = (
        kept.groupBy("_l")
        .applyInPandas(_net_check, viol_schema)
        .agg(F.coalesce(F.sum("viol"), F.lit(0)).alias("v"))
        .collect()[0]["v"]
    )

    dropped = sdv.filter(~F.col("keep")).select(
        F.col("list_id").alias("_l"),
        F.col("vec_id").alias("_did"),
        F.col("dup_of").alias("_abs"),
        F.col("embedding").alias("_dv"),
    )
    cover = dropped.join(
        kept.withColumnRenamed("_ida", "_abs").withColumnRenamed(
            "_va", "_av"
        ),
        ["_l", "_abs"],
    ).filter(
        (F.col("_abs") < F.col("_did"))
        & (_norm_dot(F.col("_dv"), F.col("_av")) >= 0.92)
    )
    n_dropped = dropped.count()
    n_covered = cover.count()

    return partition_ok.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.lit(0.92).cast("double").alias("theta"),
        F.col("ok").alias("partition_ok"),
        F.lit(net_viol == 0).alias("net_ok"),
        F.lit(n_covered == n_dropped).alias("coverage_ok"),
    )
