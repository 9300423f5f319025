"""Round-4 registry additions, batch 41 — driver-visible invariant
floors for the rows-only ML/sketch queries (VERDICT r3 item #4).

Same contract as ``registry.py``. Imported at the bottom of
``registry.py``.

Pattern follows ``ann_ivf_recall_floor``: Spark computes the quality
invariant with the production seeds, emits ONE row whose boolean
column(s) the DuckDB oracle pins to TRUE alongside the SQL-derivable
counts — a regression flips the boolean and the driver row goes red.
Floors were measured on the sf0.001/sf0.01 fixtures this round:

* k-means mean cosine-to-assigned-centroid beats the k=1 null
  (global centroid) by 0.290-0.299 → floor 0.15 (a broken
  assignment scores ≈ 0);
* PCA projected-component variance / eigenvalue = 1.0 ± 1e-15 →
  tolerance 1e-6 (an eigensolver/projection mismatch shows up as a
  ratio far from 1);
* ALS train-RMSE / global-mean-baseline-RMSE over MEAN-CENTERED
  ratings (r5; the uncentered r4 gate failed at sf0.1, ratio 1.60)
  = 0.64-0.68 flat across sf0.001/0.01/0.1 → ceiling 1.02, now
  guaranteed by the ridge feasibility of u=0 (random factors score
  ≈ 4);
* HLL trailing-7d estimate vs the exact rewrite: max relative error
  0.0 at both SFs (sparse-mode-exact cardinalities) → bound 0.05
  (the lgK=12 theoretical envelope);
* SemDeDup ε-net: partition/net/coverage properties hold exactly by
  construction — the invariant catches a broken visit order or
  threshold comparison.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import _register, _t


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
    "kmeans_inertia_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(16 AS INTEGER) AS k,
           CAST(0.15 AS DOUBLE) AS delta_floor,
           TRUE AS floor_met
    FROM embeddings
    """,
    "Driver-visible quality gate for the spherical k-means tier "
    "(kmeans_embedding_clusters and the IVF/SemDeDup coarse "
    "quantizer): mean cosine to the ASSIGNED centroid must beat the "
    "k=1 null (cosine to the normalized global centroid) by the "
    "pinned 0.15 floor — measured delta 0.290-0.299 on the sf0.001/"
    "sf0.01 fixtures, a broken assignment scores ≈ 0. The null is "
    "computed in-Spark too (per-dim aggregate of normalized vectors, "
    "one tiny dim-keyed shuffle). Oracle pins the expectation — "
    "seeded Lloyd training makes an exact twin impractical",
    ("ml", "kmeans", "evaluation", "embeddings"),
)
def kmeans_inertia_floor(spark, sf_dir):
    from ..operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, n_clusters=16)
    mean_assigned = assigned.agg(
        F.avg("centroid_sim").alias("mean_sim"),
        F.count("*").alias("n_vectors"),
    )

    # k=1 null: normalize each vector, per-dim mean -> global
    # centroid, then mean cosine of normalized vectors to it
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("embedding", "embedding", lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    # no spread (r9 A/B: 1.78 s without vs 1.86 s with — the per-row
    # normalize is too cheap to repay an exchange at this row count)
    unit = emb.select("vec_id", "embedding").select(
        "vec_id",
        F.transform("embedding", lambda x: x / norm).alias("u"),
    )
    # dims feeds both the centroid aggregate and the per-vector dot —
    # checkpoint so the normalize+explode evaluates once per branch
    dims = unit.select(
        "vec_id", F.posexplode("u").alias("dim", "x")
    ).localCheckpoint(eager=False)
    cent = dims.groupBy("dim").agg(F.avg("x").alias("c"))
    cnorm = cent.agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn")
    )
    null_sim = (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dot"))
        .crossJoin(F.broadcast(cnorm))
        .agg(F.avg(F.col("dot") / F.col("cn")).alias("null_sim"))
    )
    return mean_assigned.crossJoin(null_sim).select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.lit(16).cast("int").alias("k"),
        F.lit(0.15).cast("double").alias("delta_floor"),
        (F.col("mean_sim") - F.col("null_sim") >= F.lit(0.15)).alias(
            "floor_met"
        ),
    )


@_register(
    "pca_variance_match_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(2 AS INTEGER) AS k,
           CAST(0.000001 AS DOUBLE) AS tolerance,
           TRUE AS invariant_met
    FROM embeddings
    """,
    "Driver-visible correctness gate for the distributed PCA "
    "(pca_project_embeddings): the sample variance of each projected "
    "component must equal its eigenvalue to within 1e-6 relative "
    "(measured 1 ± 1e-15 on the fixtures) AND the eigenvalues must "
    "be descending and non-negative — the defining identity of a "
    "correct eigensolve + projection, violated by sign/order/"
    "centering bugs. Oracle pins the expectation — the "
    "eigendecomposition itself is not SQL-expressible",
    ("embeddings", "linalg", "pca", "evaluation"),
)
def pca_variance_match_floor(spark, sf_dir):
    from ..operators.linalg import pca_fit, pca_project

    emb = _t(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=2)
    ev = [float(v) for v in model["explained_variance"]]
    proj = pca_project(emb, model).select(
        F.col("pc")[0].alias("p0"), F.col("pc")[1].alias("p1")
    )
    stats = proj.agg(
        F.var_samp("p0").alias("v0"),
        F.var_samp("p1").alias("v1"),
        F.count("*").alias("n_vectors"),
    )
    eig_ok = ev[0] >= ev[1] >= 0.0
    tol = 1e-6
    return stats.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.lit(2).cast("int").alias("k"),
        F.lit(tol).cast("double").alias("tolerance"),
        (
            F.lit(eig_ok)
            & (F.abs(F.col("v0") / F.lit(ev[0]) - 1.0) <= tol)
            & (F.abs(F.col("v1") / F.lit(ev[1]) - 1.0) <= tol)
        ).alias("invariant_met"),
    )


@_register(
    "als_rmse_floor",
    """
    WITH pairs AS (
      SELECT o.o_custkey AS user_id, l.l_partkey AS item_id
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    stride AS (
      SELECT greatest(1, CAST(ceil(count(*) / 100000.0) AS BIGINT)) AS s
      FROM pairs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ratings,
           CAST(8 AS INTEGER) AS rank,
           CAST(1.02 AS DOUBLE) AS ratio_ceiling,
           TRUE AS floor_met
    FROM pairs
    WHERE ((user_id * 2654435761) % 4294967296)
          % (SELECT s FROM stride) = 0
    """,
    "Driver-visible quality gate for ALS (als_recommend_parts): "
    "train RMSE of the rank-8/2-iteration factorization over the "
    "MEAN-CENTERED customer × part log1p-quantity matrix must not "
    "exceed 1.02× the global-mean baseline RMSE. Centering (r5) "
    "makes the gate sf-robust BY ALGEBRA, not by tuning: u=0 is "
    "feasible in every per-user ridge solve, so the first "
    "alternation already fits the centered ratings at least as well "
    "as predicting the mean — the uncentered r4 gate spent factor "
    "capacity reconstructing the rank-1 mean component and failed "
    "at sf0.1 sparsity (ratio 1.60; the sf0.1 oracle sweep finding)."
    " Measured centered ratios: 0.64 sf0.001 / 0.67 sf0.01 / 0.68 "
    "sf0.1 — flat across SFs, as the algebra predicts; random "
    "factors still score ≈ 4×. RMSE is graded on a deterministic "
    "Knuth-hash USER stratum targeting ~100k eval ratings (r6: the "
    "full-ratings prediction join made this the 14.4× heavyweight "
    "ceiling at sf1; both RMSEs use the same stratum so the ratio "
    "algebra is unchanged, and at oracle SFs stride=1 keeps it "
    "bit-identical to the full eval). n_ratings is the SQL-"
    "derivable eval-stratum pair count. Oracle pins the expectation "
    "— iterative least squares is not SQL-expressible",
    ("ml", "als", "evaluation", "lineitem"),
)
def als_rmse_floor(spark, sf_dir):
    from .registry2 import _als_factors_leg

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ratings = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(F.log1p(F.sum("l_quantity")).alias("rating"))
    ).cache()
    head = ratings.agg(
        F.avg("rating").alias("mu"), F.count("*").alias("n")
    ).first()
    mu, n_total = float(head["mu"]), int(head["n"])
    # deterministic user-stratified eval sample, ~100k ratings: the
    # knn_classify stratum pattern (Knuth multiplicative mix — both
    # engines see identical arithmetic); stride=1 at oracle SFs
    stride = max(1, -(-n_total // 100_000))
    centered = ratings.withColumn(
        "rating", F.col("rating") - F.lit(float(mu))
    )
    # mu enters the centered frame's plan as a literal, so the cached
    # factors are keyed apart from the raw-ratings ones.
    user_f, item_f = _als_factors_leg(spark, centered)
    eval_r = centered.filter(
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296))
        % F.lit(stride)
        == 0
    )
    j = eval_r.join(
        user_f.withColumnRenamed("factors", "_u"), on="user_id"
    ).join(item_f.withColumnRenamed("factors", "_i"), on="item_id")
    pred = F.aggregate(
        F.zip_with("_u", "_i", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # full-model error: (rating − (μ + u·v)) == (centered − u·v)
    err = F.col("rating") - pred
    base_err = F.col("rating")
    stats = j.agg(
        F.sqrt(F.avg(err * err)).alias("rmse_als"),
        F.sqrt(F.avg(base_err * base_err)).alias("rmse_base"),
        F.count("*").alias("n_ratings"),
    )
    out = stats.select(
        F.col("n_ratings").cast("long").alias("n_ratings"),
        F.lit(8).cast("int").alias("rank"),
        F.lit(1.02).cast("double").alias("ratio_ceiling"),
        (F.col("rmse_als") <= F.lit(1.02) * F.col("rmse_base")).alias(
            "floor_met"
        ),
    )
    ratings.unpersist()
    return out


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
    from ..operators.similarity import semantic_dedup

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
