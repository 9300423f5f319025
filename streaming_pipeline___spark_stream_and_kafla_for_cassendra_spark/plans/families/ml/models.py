"""Trained models and their evaluation floors: ALS recommendations and
ranking metrics, k-means, PCA, perceptron and decision-stump fits,
and language-ID classifier metrics.
"""

from __future__ import annotations

import functools as _functools
import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ... import legs as _legs
from ...core import _kmeans_chain_ctes, _langid_oracle, _r6, _register, _t


def _pca_oracle_sql() -> str | None:
    """LAZY oracle for pca_project_embeddings (r6: rows-only → full
    oracle row). The 64×64 eigensolve is not SQL-expressible, so the
    generator replays the fit INDEPENDENTLY (single-process numpy
    over the raw parquet — a different code path from the Spark
    side's distributed gram partials) for every known fixture and
    embeds the sign-pinned mean/component rows as literals; the SQL
    picks the fixture's literals via a data-derived selector (row
    count + an exact-integer checksum of the first coordinate) and
    computes the projection itself. Validates: distributed gram ==
    single-pass gram, sign pinning, and the projection GEMM, to the
    stable 4-decimal rounding (eigengaps ~3e-4 dwarf the ~1e-14
    cross-path covariance perturbation, so the rounded projections
    agree). Regenerated from the CURRENT parquet on first use each
    process, never stale; returns None (rows-only) if no fixture is
    readable."""
    return _pca_oracle_sql_cached()


@_functools.lru_cache(maxsize=1)
def _pca_oracle_sql_cached() -> str | None:
    import numpy as np
    import pyarrow.parquet as pq

    fixtures = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        try:
            x = np.array(
                pq.read_table(path, columns=["embedding"])
                .column("embedding")
                .to_pylist(),
                dtype=np.float64,
            )
        except Exception:  # noqa: BLE001
            continue
        if x.ndim != 2 or not len(x):
            continue
        n = x.shape[0]
        chk = int(
            np.floor(np.abs(x[:, 0]) * 1000).astype(np.int64).sum()
        )
        mu = x.mean(axis=0)
        g = x.T @ x
        cov = (g - n * np.outer(mu, mu)) / max(n - 1, 1)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:2]
        comps = evecs[:, order].T
        for i in range(2):
            j = int(np.argmax(np.abs(comps[i])))
            if comps[i, j] < 0:
                comps[i] = -comps[i]
        fixtures.append((n, chk, mu, comps))
    if not fixtures:
        return None
    comp_vals = ", ".join(
        f"('f{fi}', {j}, {mu[j]!r}, {comps[0, j]!r}, {comps[1, j]!r})"
        for fi, (_, _, mu, comps) in enumerate(fixtures)
        for j in range(mu.shape[0])
    )
    sel_case = " ".join(
        f"WHEN n = {n} AND chk = {chk} THEN 'f{fi}'"
        for fi, (n, chk, _, _) in enumerate(fixtures)
    )
    return f"""
    WITH sel AS (
      SELECT count(*) AS n,
             SUM(CAST(floor(abs(CAST(embedding[1] AS DOUBLE)) * 1000)
                 AS BIGINT)) AS chk
      FROM embeddings
    ),
    comp(fkey, j, m, c1, c2) AS (VALUES {comp_vals}),
    chosen AS (
      SELECT j, m, c1, c2 FROM comp
      WHERE fkey = (SELECT CASE {sel_case} ELSE 'f0' END FROM sel)
    ),
    ex AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS INTEGER) AS j,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT ex.vec_id,
           floor(SUM((val - m) * c1) * 10000 + 0.5) / 10000 AS pc1,
           floor(SUM((val - m) * c2) * 10000 + 0.5) / 10000 AS pc2
    FROM ex JOIN chosen ON chosen.j + 1 = ex.j
    GROUP BY ex.vec_id
    """


@_register(
    "pca_project_embeddings",
    _pca_oracle_sql,
    "Distributed PCA (one-pass covariance factorization): executors "
    "emit O(d²) (n, Σx, XᵀX) partials per partition — independent of "
    "row count — the driver eigensolves the 64×64 covariance "
    "(microseconds), and projection is a broadcast GEMM per Arrow "
    "batch with zero shuffle; eigenvector signs pinned "
    "deterministically. Returns each vector's first two principal "
    "components. FULL oracle row since r6 (was rows-only): the lazy "
    "oracle replays the fit independently in single-process numpy "
    "and embeds the sign-pinned components as literals per fixture, "
    "projecting in SQL — see _pca_oracle_sql. The driver-visible "
    "`pca_variance_match_floor` (families/ml/models.py) additionally pins "
    "component variance ≡ eigenvalue to 1e-6",
    ("embeddings", "linalg", "pca", "pandas_udf"),
)
def pca_project_embeddings(spark, sf_dir):
    from ....operators.linalg import pca_fit_project

    emb = _t(spark, sf_dir, "embeddings")
    proj = pca_fit_project(
        emb, id_col="vec_id", vec_col="embedding", k=2, round_to=None
    )
    # stable floor-based 4-decimal rounding on BOTH sides (Spark's
    # F.round is HALF_UP on the shortest decimal repr; DuckDB rounds
    # the binary double — the floor(x*1e4+0.5) fold is engine-free)
    return proj.select(
        "vec_id",
        (F.floor(F.col("pc1") * 10000 + F.lit(0.5)) / 10000).alias("pc1"),
        (F.floor(F.col("pc2") * 10000 + F.lit(0.5)) / 10000).alias("pc2"),
    )


_KMEANS_ORACLE = f"""
    WITH {_kmeans_chain_ctes()},
    joined AS (
      SELECT k.vec_id, k.cluster_id, k.centroid_sim, e.label
      FROM kassign k JOIN embeddings e USING (vec_id)
    ),
    top_label AS (
      SELECT cluster_id, label AS majority_label FROM (
        SELECT cluster_id, label,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY count(*) DESC, label) AS rn
        FROM joined GROUP BY cluster_id, label
      ) WHERE rn = 1
    ),
    stats AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
             floor(sum(CAST(round(centroid_sim * 1000000) AS BIGINT))
                   / (count(*) * 100.0) + 0.5) / 10000.0
               AS mean_centroid_sim,
             floor(min(centroid_sim) * 10000 + 0.5) / 10000.0
               AS min_centroid_sim
      FROM joined GROUP BY 1
    )
    SELECT s.cluster_id, s.n_vectors, s.mean_centroid_sim,
           s.min_centroid_sim, t.majority_label
    FROM stats s JOIN top_label t USING (cluster_id)
    """


# ---------------------------------------------------------------------------
# ALS collaborative filtering (iterative distributed factorization)
# ---------------------------------------------------------------------------


def _als_oracle_sql() -> str | None:
    """LAZY oracle for als_recommend_parts (r6: rows-only → full
    oracle row). The rank-8/2-iteration trainer is REPLAYED
    independently in single-process numpy — deterministic init via
    the JVM-parity xxhash64 port (functions/xxh64.py, pinned by
    tests/test_xxh64.py), identical alternation/ridge algebra, exact
    integer quantity sums — and the resulting factors are embedded
    as per-fixture literals (selected by an exact-integer pair-count
    + checksum). The SERVE stage (score every unseen item per cohort
    user, rank, top-3) is then plain SQL over the raw tables, so the
    oracle validates the distributed trainer end-to-end against an
    independent implementation AND the serve join against relational
    algebra. Cross-path factor noise is ~1e-12 (float-sum order),
    far inside the 4-decimal score rounding; exact score ties are
    broken by item_id on both sides."""
    return _als_oracle_sql_cached()


def _als_replay(sf_dir: str):
    import numpy as np
    import pyarrow.parquet as pq

    from ....functions.xxh64 import xxhash64

    li = (
        pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_orderkey", "l_partkey", "l_quantity"],
        )
        .to_pandas()
    )
    o = (
        pq.read_table(
            f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
        )
        .to_pandas()
    )
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    g = (
        m.groupby(["o_custkey", "l_partkey"], sort=True)["l_quantity"]
        .sum()
        .reset_index()
    )
    user_ids = g["o_custkey"].to_numpy(dtype=np.int64)
    item_ids = g["l_partkey"].to_numpy(dtype=np.int64)
    # quantities are integral → the sum is order-free exact, so the
    # ratings match Spark's groupBy bit-for-bit
    r = np.log1p(g["l_quantity"].to_numpy(dtype=np.float64))
    chk = int((user_ids * 7 + item_ids).sum())
    users = np.unique(user_ids)
    items = np.unique(item_ids)
    u_of = np.searchsorted(users, user_ids)
    i_of = np.searchsorted(items, item_ids)
    k, lam, seed = 8, 0.1, 7

    def init(ids: np.ndarray, s: int) -> np.ndarray:
        return np.array(
            [
                [
                    (
                        xxhash64(("long", int(e)), ("int", j), ("int", s))
                        % 1000
                    )
                    / 10000.0
                    - 0.05
                    for j in range(k)
                ]
                for e in ids
            ],
            dtype=np.float64,
        )

    item_f = init(items, seed)
    user_f = init(users, seed + 1)
    lam_eye = lam * np.eye(k)

    def solve(fixed_f, fix_idx, sol_idx, n_sol):
        order = np.argsort(sol_idx, kind="stable")
        P = fixed_f[fix_idx][order]
        rr = r[order]
        groups = sol_idx[order]
        starts = np.flatnonzero(
            np.r_[True, groups[1:] != groups[:-1]]
        )
        outer = (P[:, :, None] * P[:, None, :]).reshape(len(P), k * k)
        A = np.add.reduceat(outer, starts, axis=0).reshape(-1, k, k)
        b = np.add.reduceat(P * rr[:, None], starts, axis=0)
        out = np.zeros((n_sol, k))
        out[groups[starts]] = np.linalg.solve(A + lam_eye, b)
        return out

    for _ in range(2):
        user_f = solve(item_f, i_of, u_of, len(users))
        item_f = solve(user_f, u_of, i_of, len(items))
    cohort = users % 300 == 0
    return {
        "n": int(len(g)),
        "chk": chk,
        "users": users[cohort],
        "user_f": user_f[cohort],
        "items": items,
        "item_f": item_f,
    }


@_functools.lru_cache(maxsize=1)
def _als_oracle_sql_cached() -> str | None:
    fixtures = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        try:
            fixtures.append(_als_replay(f"/root/testdata/{sf}"))
        except Exception:  # noqa: BLE001
            continue
    if not fixtures:
        return None

    def fvals(fi, ids, mat):
        return ", ".join(
            "('f%d', %d, %s)"
            % (fi, int(e), ", ".join(repr(float(v)) for v in row))
            for e, row in zip(ids, mat)
        )

    uf_vals = ", ".join(
        fvals(fi, fx["users"], fx["user_f"])
        for fi, fx in enumerate(fixtures)
    )
    itf_vals = ", ".join(
        fvals(fi, fx["items"], fx["item_f"])
        for fi, fx in enumerate(fixtures)
    )
    sel_case = " ".join(
        f"WHEN n = {fx['n']} AND chk = {fx['chk']} THEN 'f{fi}'"
        for fi, fx in enumerate(fixtures)
    )
    score = "0.0"
    for j in range(1, 9):
        score = f"({score} + u{j} * v{j})"
    ucols = ", ".join(f"u{j}" for j in range(1, 9))
    vcols = ", ".join(f"v{j}" for j in range(1, 9))
    return f"""
    WITH pairs AS (
      SELECT o.o_custkey AS user_id, l.l_partkey AS item_id
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    sel AS (
      SELECT count(*) AS n, SUM(user_id * 7 + item_id) AS chk FROM pairs
    ),
    fkey AS (SELECT CASE {sel_case} ELSE 'f0' END AS k FROM sel),
    uf(f, user_id, {ucols}) AS (VALUES {uf_vals}),
    itf(f, item_id, {vcols}) AS (VALUES {itf_vals}),
    scored AS (
      SELECT u.user_id, i.item_id, {score} AS score
      FROM uf u JOIN fkey ON u.f = fkey.k
      JOIN itf i ON i.f = fkey.k
    ),
    unseen AS (
      SELECT s.user_id, s.item_id, s.score
      FROM scored s ANTI JOIN pairs p USING (user_id, item_id)
    ),
    ranked AS (
      SELECT user_id, item_id, score,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY score DESC, item_id) AS rnk
      FROM unseen
    )
    SELECT user_id, item_id, round(score, 4) AS score,
           CAST(rnk AS INTEGER) AS rank
    FROM ranked WHERE rnk <= 3
    """


# The two ALS queries each pay a full rank-8 / 2-iteration training
# run (~36 s + ~22 s at sf0.1) over the same ratings matrix —
# als_recommend_parts on raw log1p ratings, als_rmse_floor on the
# MEAN-CENTERED ratings (different algebra, so the factor tables are
# distinct). Guide §5 (reused AND expensive): the trained factors are
# entity-count-sized (KBs per million entities at rank 8) while the
# trainer is the whole cost, so the factors go through the shared-leg
# cache, keyed by the ratings frame itself: its plan carries the
# ratings prep (log1p, mean-centering), its scans the input files;
# parquet round-trips float64 arrays exactly, so served factors are
# bit-identical to freshly trained ones.
def _train_als_factors(ratings):
    from ....operators import als as _als

    user_f, item_f = _als.als_train(ratings, rank=8, iterations=2)
    return user_f.select(
        F.lit("u").alias("side"),
        F.col("user_id").alias("eid"),
        "factors",
    ).unionByName(
        item_f.select(
            F.lit("i").alias("side"),
            F.col("item_id").alias("eid"),
            "factors",
        )
    )


def _als_factors_leg(spark, ratings):
    both = _legs.leg(spark, ratings, _train_als_factors)
    user_f = both.filter(F.col("side") == "u").select(
        F.col("eid").alias("user_id"), "factors"
    )
    item_f = both.filter(F.col("side") == "i").select(
        F.col("eid").alias("item_id"), "factors"
    )
    return user_f, item_f


@_register(
    "als_recommend_parts",
    _als_oracle_sql,
    "ALS collaborative filtering over the customer × part purchase "
    "matrix (operators/als.py): normal-equation terms assembled by a "
    "position-exploded grouped sum (shuffle = #entities × k² rows, "
    "no factor broadcast/collect), per-entity k×k solves in one "
    "Arrow pass, deterministic init — then top-3 novel part "
    "recommendations for a fixed user cohort. Convergence, planted- "
    "structure recovery, bit-determinism, and novelty are pytest- "
    "pinned. FULL oracle row since r6 (was rows-only): the lazy "
    "oracle replays the trainer independently in numpy (xxhash64 "
    "port for the init, identical alternation) and embeds the "
    "factors as literals, serving in SQL — see _als_oracle_sql. The "
    "driver-visible oracle row `als_rmse_floor` (families/ml/models.py) pins "
    "train-RMSE ≤ 1.02× the global-mean baseline",
    ("ml", "als", "recommender", "iterative", "lineitem"),
)
def als_recommend_parts(spark, sf_dir):
    from ....operators.als import als_recommend

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
    user_f, item_f = _als_factors_leg(spark, ratings)
    cohort = user_f.filter(F.col("user_id") % 300 == 0)
    recs = als_recommend(
        cohort, item_f, ratings.select("user_id", "item_id"), k=3
    )
    ratings.unpersist()
    return recs


# ---------------------------------------------------------------------------
# Spherical k-means cluster audit
# ---------------------------------------------------------------------------

@_register(
    "kmeans_embedding_clusters",
    _KMEANS_ORACLE,
    "Spherical k-means over the embeddings (operators/similarity.py::"
    "kmeans_assign — the IVF/SemDeDup coarse quantizer exposed as a "
    "first-class clustering operator): bounded lowest-id-sample "
    "training, broadcast centroids, zero-shuffle Arrow assignment; "
    "this query audits the clustering (per-cluster size, mean/min "
    "similarity to centroid, majority label). ORACLE (new in r4, was "
    "rows-only): the quantizer is fully replayable — the DuckDB twin "
    "(_kmeans_chain_ctes) re-derives centroids and assignments, and "
    "the per-cluster stats use exact integer micro-sims for the mean "
    "so both engines round identically. The driver-visible "
    "`kmeans_inertia_floor` (families/ml/models.py) additionally pins mean "
    "centroid-cosine 0.15 above the k=1 null",
    ("ml", "kmeans", "clustering", "embeddings"),
)
def kmeans_embedding_clusters(spark, sf_dir):
    from ....operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, n_clusters=16)
    joined = assigned.join(emb.select("vec_id", "label"), "vec_id")
    per_label = joined.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n")
    )
    top_label = per_label.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n").desc(), F.col("label")
            )
        ),
    ).filter(F.col("rn") == 1).select(
        "cluster_id", F.col("label").alias("majority_label")
    )
    stats = joined.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        # exact integer micro-sims -> order-free sum -> one rounding:
        # the identical formula in the DuckDB twin hash-matches
        (
            F.floor(
                F.sum(F.round(F.col("centroid_sim") * 1000000).cast("long"))
                / (F.count("*") * F.lit(100.0))
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("mean_centroid_sim"),
        (
            F.floor(F.min("centroid_sim") * 10000 + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("min_centroid_sim"),
    )
    return stats.join(top_label, "cluster_id")


# ---------------------------------------------------------------------------
# ML evaluation: ROC-AUC via rank statistics (Mann–Whitney)
# ---------------------------------------------------------------------------

@_register(
    "auc_chars_predict_english",
    """
    WITH scored AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    ranked AS (
      SELECT y,
             avg(rn) OVER (PARTITION BY score) AS tie_rank
      FROM (
        SELECT score, y,
               row_number() OVER (ORDER BY score) * 1.0 AS rn
        FROM scored
      )
    ),
    agg AS (
      SELECT CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
             sum(CASE WHEN y = 1 THEN tie_rank ELSE 0 END) AS r_pos
      FROM ranked
    )
    SELECT n_pos, n_neg,
           floor((r_pos - n_pos * (n_pos + 1.0) / 2)
                 / (n_pos * 1.0 * n_neg) * 1000000 + 0.5) / 1000000.0 AS auc
    FROM agg
    """,
    "ROC-AUC of document length predicting lang='en', computed as "
    "the Mann–Whitney rank-sum statistic: AUC = (R₊ − n₊(n₊+1)/2) / "
    "(n₊ n₋), with tied scores taking average ranks. Ranks are "
    "integers (ties → .5 halves — exactly representable), so the "
    "statistic is bit-deterministic; no threshold sweep or curve "
    "materialization. This is the scalable AUC: a per-score tie-"
    "group aggregate, then a DISTRIBUTED running total over the "
    "group table (scale.py::prefix_sums — range-partitioned, no "
    "single-partition window) + one aggregate, no O(n²) pair "
    "comparisons; the oracle states the same statistic with the "
    "classic per-row rank window",
    ("ml", "evaluation", "auc", "stats", "documents"),
)
def auc_chars_predict_english(spark, sf_dir):
    from ....operators.scale import prefix_sums

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # Scale-safe rank-sum: aggregate per distinct score FIRST (the
    # tie groups), then one distributed running total over the
    # score-sorted group table (scale.py::prefix_sums — no single-
    # partition window anywhere). avg tied rank of a group =
    # (#rows before it) + (group_size + 1)/2; every term is an
    # integer or half-integer, so r_pos = Σ pos_s · tie_rank is
    # exactly representable and bit-matches the per-row oracle.
    per_score = scored.groupBy("score").agg(
        F.count("*").alias("n_s"), F.sum("y").alias("pos_s")
    )
    cum = prefix_sums(per_score, ["score"], ["n_s"])
    tie_rank = (
        (F.col("cum_n_s") - F.col("n_s")).cast("double")
        + (F.col("n_s") + F.lit(1.0)) / 2
    )
    agg = cum.agg(
        F.sum("pos_s").alias("n_pos"),
        (F.sum("n_s") - F.sum("pos_s")).alias("n_neg"),
        F.sum(F.col("pos_s") * tie_rank).alias("r_pos"),
    )
    auc = (
        F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1.0)) / 2
    ) / (F.col("n_pos") * F.lit(1.0) * F.col("n_neg"))
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        _r6(auc).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ML evaluation: classifier confusion metrics (language ID vs labels)
# ---------------------------------------------------------------------------

def _langid_metrics_oracle() -> str:

    return f"""
    WITH preds AS ({_langid_oracle()}),
    cells AS (
      SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n
      FROM preds GROUP BY 1, 2
    ),
    langs AS (SELECT DISTINCT labeled_lang AS lang FROM cells),
    m AS (
      SELECT lang,
             coalesce((SELECT sum(n) FROM cells
                       WHERE labeled_lang = lang AND guessed_lang = lang), 0)
               AS tp,
             coalesce((SELECT sum(n) FROM cells
                       WHERE guessed_lang = lang AND labeled_lang <> lang), 0)
               AS fp,
             coalesce((SELECT sum(n) FROM cells
                       WHERE labeled_lang = lang AND guessed_lang <> lang), 0)
               AS fn
      FROM langs
    )
    SELECT lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           floor(CASE WHEN tp + fp = 0 THEN 0.0
                      ELSE tp * 1.0 / (tp + fp) END * 1000000 + 0.5)
             / 1000000.0 AS precision_,
           floor(CASE WHEN tp + fn = 0 THEN 0.0
                      ELSE tp * 1.0 / (tp + fn) END * 1000000 + 0.5)
             / 1000000.0 AS recall_,
           floor(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                      ELSE 2.0 * tp / (2 * tp + fp + fn) END * 1000000 + 0.5)
             / 1000000.0 AS f1
    FROM m
    """


@_register(
    "langid_confusion_metrics",
    _langid_metrics_oracle(),
    "Classifier evaluation closing the language-ID loop: the "
    "engine's heuristic language detector scored against the labeled "
    "lang column — per-language TP/FP/FN and precision/recall/F1 "
    "from the confusion cells. The oracle re-derives the SAME "
    "detector from the shared stopword tables (so predictions are "
    "engine-identical) and recomputes the metrics relationally; all "
    "floats derive from integer counts. One prediction scan + a "
    "cells-sized aggregate",
    ("ml", "evaluation", "langid", "text", "documents"),
)
def langid_confusion_metrics(spark, sf_dir):
    from ....functions.text import lang_id_heuristic
    from ....operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    preds = spread_for_compute(d.select("lang", "text")).select(
        F.col("lang").alias("labeled_lang"),
        lang_id_heuristic(F.col("text")).alias("guessed_lang"),
    )
    # the confusion matrix feeds four branches — checkpoint so the
    # stopword-vote scan evaluates once
    cells = preds.groupBy("labeled_lang", "guessed_lang").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=False)
    langs = cells.select(F.col("labeled_lang").alias("lang")).distinct()
    tp = cells.filter(F.col("labeled_lang") == F.col("guessed_lang")).select(
        F.col("labeled_lang").alias("lang"), F.col("n").alias("tp")
    )
    fp = (
        cells.filter(F.col("labeled_lang") != F.col("guessed_lang"))
        .groupBy(F.col("guessed_lang").alias("lang"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        cells.filter(F.col("labeled_lang") != F.col("guessed_lang"))
        .groupBy(F.col("labeled_lang").alias("lang"))
        .agg(F.sum("n").alias("fn"))
    )
    m = (
        langs.join(tp, "lang", "left")
        .join(fp, "lang", "left")
        .join(fn, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fn"))
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)
    ).otherwise(
        F.lit(2.0) * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    return m.select(
        "lang",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        _r6(prec).alias("precision_"),
        _r6(rec).alias("recall_"),
        _r6(f1).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Recommender evaluation: co-purchase precision@k on a hash holdout
# ---------------------------------------------------------------------------

_RECO_K = 5
_RECO_SALT = "reco-v1"


def _reco_recs(split):
    """Top-K item-item co-purchase recommendations from the train side:
    (p, q, rk) with rk ≤ K in (weight desc, q asc) order."""
    train = (
        split.filter("is_train")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ta = train.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    tb = train.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("q")
    )
    co = (
        ta.join(tb, "o")
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").alias("w"))
    )
    wk = Window.partitionBy("p").orderBy(F.desc("w"), F.asc("q"))
    return (
        co.select("p", "q", F.row_number().over(wk).alias("rk"))
        .filter(F.col("rk") <= _RECO_K)
    )


def _reco_actual(split):
    """Distinct (p, q) co-basket pairs on the test side."""
    test = (
        split.filter(~F.col("is_train"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ea = test.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    eb = test.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("q")
    )
    return (
        ea.join(eb, "o")
        .filter(F.col("p") != F.col("q"))
        .select("p", "q")
        .distinct()
    )


def _reco_eval_legs(spark, sf_dir):
    """Materialized shared legs for the three recommender-evaluation
    metrics (reco_precision_at_k, reco_mrr_at_k, reco_ndcg_at_k):
    all three grade the SAME model — top-K item-item co-purchase
    recommendations from the md5-hash train split — against the SAME
    truth — distinct test-side co-baskets. A real pipeline scores the
    model once and computes every metric from the scored tables, so
    both tables are served through the shared-leg cache over the split
    frame (same contract as ``_ngram_pair_leg``).

    Returns ``(recs, actual)``."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    is_train = F.substring(
        F.md5(
            F.concat(
                F.lit(_RECO_SALT), F.col("l_orderkey").cast("string")
            ).cast("binary")
        ),
        1,
        1,
    ).isin(*"0123456789ab")
    split = li.select("l_orderkey", "l_partkey", is_train.alias("is_train"))
    recs = _legs.leg(spark, split, _reco_recs)
    return recs, _legs.leg(spark, split, _reco_actual)


@_register(
    "reco_precision_at_k",
    f"""
    WITH split AS (
      SELECT l_orderkey, l_partkey,
             substr(md5('{_RECO_SALT}' || CAST(l_orderkey AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_train
      FROM lineitem
    ),
    train AS (SELECT DISTINCT l_orderkey, l_partkey FROM split WHERE is_train),
    test  AS (SELECT DISTINCT l_orderkey, l_partkey FROM split
              WHERE NOT is_train),
    co AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q,
             CAST(count(*) AS BIGINT) AS w
      FROM train a JOIN train b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    recs AS (
      SELECT p, q FROM (
        SELECT p, q,
               row_number() OVER (PARTITION BY p ORDER BY w DESC, q ASC) AS rk
        FROM co
      ) WHERE rk <= {_RECO_K}
    ),
    actual AS (
      SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
      FROM test a JOIN test b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    eval_items AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_actual FROM actual GROUP BY 1
    ),
    nrec AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_recs FROM recs GROUP BY 1
    ),
    hits_per_p AS (
      SELECT r.p, CAST(count(*) AS BIGINT) AS n_hit
      FROM recs r JOIN actual a ON a.p = r.p AND a.q = r.q
      GROUP BY 1
    ),
    hits AS (
      SELECT e.p, coalesce(h.n_hit, 0) AS n_hit, nr.n_recs
      FROM eval_items e
      JOIN nrec nr USING (p)
      LEFT JOIN hits_per_p h USING (p)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval_parts,
           CAST(sum(n_recs) AS BIGINT) AS n_recommended,
           CAST(sum(n_hit) AS BIGINT) AS n_hits,
           floor(sum(n_hit) / CAST(sum(n_recs) AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS precision_at_k
    FROM hits
    """,
    "Recommender evaluation on a deterministic holdout: orders hash-"
    "split 75/25 by md5(orderkey); the train side builds item-item "
    "co-purchase counts; each part's top-5 co-items (weight desc, "
    "part asc — deterministic) are scored against the ACTUAL co-"
    "baskets of the test side, yielding micro-averaged precision@5 "
    "over parts that appear in multi-item test orders. The pair "
    "joins are order-keyed (bounded per-order fan-out, never a cross "
    "product); the top-5 window is parts-sized; the hit join probes "
    "the recommendations table. Counts are exact integers. The "
    "model (recs) and truth (actual) tables are served from the "
    "materialized shared legs (_reco_eval_legs) graded by all three "
    "reco metrics — score once, evaluate many.",
    ("ml-eval", "recommendation", "lineitem"),
)
def reco_precision_at_k(spark, sf_dir):
    recs_rk, actual = _reco_eval_legs(spark, sf_dir)
    recs = recs_rk.select("p", "q")
    eval_items = actual.groupBy("p").agg(F.count("*").alias("n_actual"))
    n_recs = recs.groupBy("p").agg(F.count("*").alias("n_recs"))
    hit = (
        recs.join(actual, ["p", "q"]).groupBy("p").agg(F.count("*").alias("n_hit"))
    )
    hits = (
        eval_items.join(n_recs, "p")
        .join(hit, "p", "left")
        .select(
            "p",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            "n_recs",
        )
    )
    return hits.agg(
        F.count("*").alias("n_eval_parts"),
        F.sum("n_recs").cast("long").alias("n_recommended"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        _r6(F.sum("n_hit") / F.sum("n_recs").cast("double")).alias(
            "precision_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# Recommender MRR — exact from first-hit-rank counts
# ---------------------------------------------------------------------------

@_register(
    "reco_mrr_at_k",
    f"""
    WITH split AS (
      SELECT l_orderkey, l_partkey,
             substr(md5('{_RECO_SALT}' || CAST(l_orderkey AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_train
      FROM lineitem
    ),
    train AS (SELECT DISTINCT l_orderkey, l_partkey FROM split WHERE is_train),
    test  AS (SELECT DISTINCT l_orderkey, l_partkey FROM split
              WHERE NOT is_train),
    co AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q,
             CAST(count(*) AS BIGINT) AS w
      FROM train a JOIN train b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    recs AS (
      SELECT p, q, rk FROM (
        SELECT p, q,
               row_number() OVER (PARTITION BY p ORDER BY w DESC, q ASC) AS rk
        FROM co
      ) WHERE rk <= {_RECO_K}
    ),
    actual AS (
      SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
      FROM test a JOIN test b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    eval_items AS (
      SELECT p FROM actual GROUP BY p
    ),
    evald AS (SELECT e.p FROM eval_items e
              JOIN (SELECT DISTINCT p FROM recs) r USING (p)),
    first_hit AS (
      SELECT r.p, CAST(min(r.rk) AS INTEGER) AS minrk
      FROM recs r JOIN actual a ON a.p = r.p AND a.q = r.q
      GROUP BY 1
    ),
    rankdist AS (
      SELECT coalesce(h.minrk, 0) AS minrk, CAST(count(*) AS BIGINT) AS cnt
      FROM evald e LEFT JOIN first_hit h USING (p)
      GROUP BY 1
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_eval_parts,
           CAST(sum(CASE WHEN minrk = 1 THEN cnt ELSE 0 END) AS BIGINT)
             AS hits_at_1,
           CAST(sum(CASE WHEN minrk > 0 THEN cnt ELSE 0 END) AS BIGINT)
             AS hits_at_k,
           floor((sum(CASE WHEN minrk = 1 THEN cnt ELSE 0 END) / 1.0
                + sum(CASE WHEN minrk = 2 THEN cnt ELSE 0 END) / 2.0
                + sum(CASE WHEN minrk = 3 THEN cnt ELSE 0 END) / 3.0
                + sum(CASE WHEN minrk = 4 THEN cnt ELSE 0 END) / 4.0
                + sum(CASE WHEN minrk = 5 THEN cnt ELSE 0 END) / 5.0)
                 / sum(cnt) * 1000000 + 0.5) / 1000000.0 AS mrr
    FROM rankdist
    """,
    "Mean reciprocal rank of the co-purchase recommender on the same "
    "md5 holdout as `reco_precision_at_k`: per evaluated part, the "
    "rank of the FIRST recommendation that appears in an actual test "
    "co-basket. Because ranks are bounded by k=5, MRR is computed "
    "EXACTLY from the integer first-hit-rank histogram — "
    "Σ count_r·(1/r) / n over five cells — eliminating the float-"
    "summation-order hazard a naive mean-of-reciprocals would have "
    "at cluster parallelism (the repo's determinism discipline, "
    "applied to ranking metrics). Recs/actual come from the "
    "materialized shared legs (_reco_eval_legs) — score once, "
    "evaluate many; the extra work is one 5-row histogram.",
    ("ml-eval", "recommendation", "lineitem"),
)
def reco_mrr_at_k(spark, sf_dir):

    recs, actual = _reco_eval_legs(spark, sf_dir)
    evald = actual.select("p").distinct().join(recs.select("p").distinct(), "p")
    first_hit = (
        recs.join(actual, ["p", "q"])
        .groupBy("p")
        .agg(F.min("rk").cast("int").alias("minrk"))
    )
    rankdist = (
        evald.join(first_hit, "p", "left")
        .select(F.coalesce(F.col("minrk"), F.lit(0)).alias("minrk"))
        .groupBy("minrk")
        .agg(F.count("*").alias("cnt"))
    )

    def at(r):
        return F.sum(F.when(F.col("minrk") == r, F.col("cnt")).otherwise(0))

    hits_at_k = F.sum(F.when(F.col("minrk") > 0, F.col("cnt")).otherwise(0))
    mrr = (
        at(1) / F.lit(1.0)
        + at(2) / F.lit(2.0)
        + at(3) / F.lit(3.0)
        + at(4) / F.lit(4.0)
        + at(5) / F.lit(5.0)
    ) / F.sum("cnt")
    return rankdist.agg(
        F.sum("cnt").cast("long").alias("n_eval_parts"),
        at(1).cast("long").alias("hits_at_1"),
        hits_at_k.cast("long").alias("hits_at_k"),
        _r6(mrr).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa: language-ID heuristic vs labels (chance-corrected)
# ---------------------------------------------------------------------------

@_register(
    "cohens_kappa_langid",
    f"""
    WITH preds AS ({_langid_oracle()}),
    cells AS (
      SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n
      FROM preds GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells),
    diag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS agree
             FROM cells WHERE labeled_lang = guessed_lang),
    rt AS (SELECT labeled_lang AS lang, CAST(sum(n) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    ct AS (SELECT guessed_lang AS lang, CAST(sum(n) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    pe_num AS (
      SELECT CAST(coalesce(sum(rt.r * ct.c), 0) AS BIGINT) AS rc
      FROM rt JOIN ct USING (lang)
    )
    SELECT t.n AS n_docs,
           floor(d.agree / CAST(t.n AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS po,
           floor(p.rc / CAST(t.n AS DOUBLE) / t.n * 1000000 + 0.5)
             / 1000000.0 AS pe,
           floor((d.agree / CAST(t.n AS DOUBLE)
                  - p.rc / CAST(t.n AS DOUBLE) / t.n)
                 / (1 - p.rc / CAST(t.n AS DOUBLE) / t.n)
                 * 1000000 + 0.5) / 1000000.0 AS kappa
    FROM tot t CROSS JOIN diag d CROSS JOIN pe_num p
    """,
    "Cohen's kappa between the engine's language-ID heuristic and "
    "the labeled lang column — chance-corrected agreement, the "
    "metric that exposes a detector that merely predicts the "
    "majority class (closing the loop on langid_confusion_metrics). "
    "po and pe derive from exact integer confusion cells and "
    "marginal products (the inner join over shared langs is "
    "equivalent to the full-with-zeros sum); kappa is the same IEEE "
    "expression in both engines, floor-pinned at 1e-6. Cells-sized "
    "arithmetic after one prediction scan",
    ("ml", "evaluation", "agreement", "langid", "documents"),
)
def cohens_kappa_langid(spark, sf_dir):
    from ....functions.text import lang_id_heuristic

    from ....operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    preds = spread_for_compute(d.select("lang", "text")).select(
        F.col("lang").alias("labeled_lang"),
        lang_id_heuristic(F.col("text")).alias("guessed_lang"),
    )
    # the confusion matrix feeds four aggregates below — checkpoint
    # so the stopword-vote scan evaluates once, not once per branch
    cells = preds.groupBy("labeled_lang", "guessed_lang").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=False)
    tot = cells.agg(F.sum("n").alias("n"))
    diag = cells.filter(
        F.col("labeled_lang") == F.col("guessed_lang")
    ).agg(F.coalesce(F.sum("n"), F.lit(0)).alias("agree"))
    rt = cells.groupBy(F.col("labeled_lang").alias("lang")).agg(
        F.sum("n").alias("r")
    )
    ct = cells.groupBy(F.col("guessed_lang").alias("lang")).agg(
        F.sum("n").alias("c")
    )
    pe_num = (
        rt.join(ct, "lang")
        .agg(
            F.coalesce(
                F.sum(F.col("r").cast("decimal(20,0)") * F.col("c")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("rc")
        )
    )
    n_d = F.col("n").cast("double")
    po = F.col("agree") / n_d
    pe = F.col("rc") / n_d / F.col("n")
    return (
        tot.crossJoin(F.broadcast(diag))
        .crossJoin(F.broadcast(pe_num))
        .select(
            F.col("n").cast("long").alias("n_docs"),
            _r6(po).alias("po"),
            _r6(pe).alias("pe"),
            _r6((po - pe) / (F.lit(1) - pe)).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Recommender evaluation: NDCG@k on the same hash holdout as precision@k
# ---------------------------------------------------------------------------

_NDCG_K = 5
_NDCG_SALT = "reco-v1"
_DCG_C = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
_IDCG = [sum(_DCG_C[:n]) for n in range(1, _NDCG_K + 1)]

_DCG_SQL = " + ".join(f"h{i + 1} * {_DCG_C[i]!r}" for i in range(_NDCG_K))
_IDCG_SQL = "CASE least(n_actual, 5) " + " ".join(
    f"WHEN {n + 1} THEN {_IDCG[n]!r}" for n in range(_NDCG_K)
) + " END"


@_register(
    "reco_ndcg_at_k",
    f"""
    WITH split AS (
      SELECT l_orderkey, l_partkey,
             substr(md5('{_NDCG_SALT}' || CAST(l_orderkey AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_train
      FROM lineitem
    ),
    train AS (SELECT DISTINCT l_orderkey, l_partkey FROM split WHERE is_train),
    test  AS (SELECT DISTINCT l_orderkey, l_partkey FROM split
              WHERE NOT is_train),
    co AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q,
             CAST(count(*) AS BIGINT) AS w
      FROM train a JOIN train b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    recs AS (
      SELECT p, q, rk FROM (
        SELECT p, q,
               row_number() OVER (PARTITION BY p ORDER BY w DESC, q ASC) AS rk
        FROM co
      ) WHERE rk <= {_NDCG_K}
    ),
    actual AS (
      SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
      FROM test a JOIN test b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    eval_items AS (
      SELECT p, CAST(count(*) AS BIGINT) AS n_actual FROM actual GROUP BY 1
    ),
    flags AS (
      SELECT r.p,
             {", ".join(
                 f"max(CASE WHEN r.rk = {i + 1} AND a.q IS NOT NULL "
                 f"THEN 1 ELSE 0 END) AS h{i + 1}"
                 for i in range(_NDCG_K))}
      FROM recs r LEFT JOIN actual a ON a.p = r.p AND a.q = r.q
      GROUP BY 1
    ),
    per_p AS (
      SELECT e.p,
             CAST(floor(({_DCG_SQL}) / ({_IDCG_SQL}) * 1000000 + 0.5)
                  AS BIGINT) AS ndcg_micro
      FROM eval_items e JOIN flags f ON f.p = e.p
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval_parts,
           CAST(sum(ndcg_micro) AS BIGINT) AS sum_ndcg_micro,
           floor(CAST(sum(ndcg_micro) AS DOUBLE) / count(*) + 0.5)
             / 1000000.0 AS mean_ndcg
    FROM per_p
    """,
    "Recommender NDCG@5 on the identical 75/25 md5 holdout as "
    "`reco_precision_at_k`: each part's top-5 co-purchase "
    "recommendations (weight desc, part asc) are scored with "
    "position-discounted gain against the test-side actual "
    "co-baskets, normalized by the ideal DCG at min(|actual|, 5). "
    "The 1/log2(rank+1) discount and IDCG prefix sums are compile-"
    "time Python literals embedded full-precision into BOTH "
    "engines, and per-part DCG is a fixed 5-term linear form over "
    "0/1 hit flags — no float accumulation order anywhere; per-part "
    "NDCG is quantized to integer millionths BEFORE the corpus mean "
    "so the final aggregate is an order-free integer sum (unlike a "
    "naive AVG of doubles, which would not be distributable). "
    "Rank-aware companion to precision@5 / `reco_mrr_at_k`; "
    "recs/actual come from the materialized shared legs "
    "(_reco_eval_legs) — score once, evaluate many.",
    ("ml-eval", "recommendation", "lineitem"),
)
def reco_ndcg_at_k(spark, sf_dir):

    recs, actual = _reco_eval_legs(spark, sf_dir)
    eval_items = actual.groupBy("p").agg(F.count("*").alias("n_actual"))
    hit = recs.join(
        actual.select(F.col("p").alias("ap"), F.col("q").alias("aq")),
        (F.col("ap") == F.col("p")) & (F.col("aq") == F.col("q")),
        "left",
    )
    flags = hit.groupBy("p").agg(
        *[
            F.max(
                F.when(
                    (F.col("rk") == i + 1) & F.col("aq").isNotNull(), 1
                ).otherwise(0)
            ).alias(f"h{i + 1}")
            for i in range(_NDCG_K)
        ]
    )
    dcg = sum(
        (F.col(f"h{i + 1}") * F.lit(_DCG_C[i]) for i in range(1, _NDCG_K)),
        F.col("h1") * F.lit(_DCG_C[0]),
    )
    idcg = F.when(F.least(F.col("n_actual"), F.lit(5)) == 1, F.lit(_IDCG[0]))
    for n in range(1, _NDCG_K):
        idcg = idcg.when(
            F.least(F.col("n_actual"), F.lit(5)) == n + 1, F.lit(_IDCG[n])
        )
    per_p = eval_items.join(flags, "p").select(
        F.floor(dcg / idcg * 1000000 + F.lit(0.5)).cast("long").alias(
            "ndcg_micro"
        )
    )
    return per_p.agg(
        F.count("*").alias("n_eval_parts"),
        F.sum("ndcg_micro").cast("long").alias("sum_ndcg_micro"),
        (
            F.floor(
                F.sum("ndcg_micro").cast("double") / F.count("*") + F.lit(0.5)
            )
            / 1000000.0
        ).alias("mean_ndcg"),
    )


# ---------------------------------------------------------------------------
# Integer online perceptron: does yesterday's momentum predict tomorrow?
# ---------------------------------------------------------------------------

@_register(
    "perceptron_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        / 100000) AS BIGINT) AS kd
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day, kd,
             lag(kd) OVER (ORDER BY day) AS prev,
             lead(kd) OVER (ORDER BY day) AS nxt,
             CAST((CAST(day - DATE '1970-01-01' AS BIGINT) + 4) % 7
                  AS BIGINT) AS wd
      FROM daily
    ),
    examples AS (
      SELECT day,
             CASE WHEN kd > prev THEN 1 WHEN kd < prev THEN -1
                  ELSE 0 END AS x2,
             wd - 3 AS x3,
             CASE WHEN nxt > kd THEN 1 ELSE -1 END AS y
      FROM lagged WHERE prev IS NOT NULL AND nxt IS NOT NULL
    ),
    seq AS (
      SELECT list([CAST(1 AS BIGINT), x2, x3, y] ORDER BY day) AS xs,
             CAST(count(*) AS BIGINT) AS n
      FROM examples
    ),
    folded AS (
      -- acc = [w1, w2, w3, correct]; freeze-free scalar updates only
      SELECT n,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                             CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                 list_transform(xs, x -> [x[1], x[2], x[3], x[4]])),
               (acc, x) -> [
                 CASE WHEN (CASE WHEN acc[1] * x[1] + acc[2] * x[2]
                                      + acc[3] * x[3] > 0
                            THEN 1 ELSE -1 END) <> x[4]
                      THEN acc[1] + x[4] * x[1] ELSE acc[1] END,
                 CASE WHEN (CASE WHEN acc[1] * x[1] + acc[2] * x[2]
                                      + acc[3] * x[3] > 0
                            THEN 1 ELSE -1 END) <> x[4]
                      THEN acc[2] + x[4] * x[2] ELSE acc[2] END,
                 CASE WHEN (CASE WHEN acc[1] * x[1] + acc[2] * x[2]
                                      + acc[3] * x[3] > 0
                            THEN 1 ELSE -1 END) <> x[4]
                      THEN acc[3] + x[4] * x[3] ELSE acc[3] END,
                 acc[4] + CASE WHEN (CASE WHEN acc[1] * x[1]
                                        + acc[2] * x[2]
                                        + acc[3] * x[3] > 0
                                     THEN 1 ELSE -1 END) = x[4]
                               THEN 1 ELSE 0 END
               ]) AS st
      FROM seq
    )
    SELECT n AS n_examples,
           CAST(st[1] AS BIGINT) AS w_bias,
           CAST(st[2] AS BIGINT) AS w_momentum,
           CAST(st[3] AS BIGINT) AS w_weekday,
           CAST(st[4] AS BIGINT) AS n_correct,
           floor(st[4] / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS online_accuracy
    FROM folded
    """,
    "Integer online perceptron — an actual TRAINING LOOP run as a "
    "pure in-row fold, bit-exact by construction because weights, "
    "features and updates are all integers: predict whether "
    "tomorrow's revenue rises from [bias, yesterday's momentum "
    "sign, centered weekday], classic Rosenblatt update w += y*x "
    "on mistakes, prediction sign(w.x) with sign(0) pinned to -1, "
    "one pass in day order tracking online (progressive-"
    "validation) accuracy. The learning-algorithms companion to "
    "the closed-form estimators (OLS `price_quantity_slope_by_"
    "brand`, IRLS `huber_location_daily_revenue`): sequential, "
    "state-carrying, and still fully oracle-checkable. Days-sized "
    "rollup; zero shuffle beyond the daily aggregate.",
    ("ml", "online-learning", "recurrence", "orders"),
)
def perceptron_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")) / 100000
        )
        .cast("long")
        .alias("kd")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "kd",
        F.lag("kd").over(w).alias("prev"),
        F.lead("kd").over(w).alias("nxt"),
        (
            (F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long") + 4)
            % 7
        ).alias("wd"),
    )
    examples = lagged.filter(
        F.col("prev").isNotNull() & F.col("nxt").isNotNull()
    ).select(
        "day",
        F.when(F.col("kd") > F.col("prev"), 1)
        .when(F.col("kd") < F.col("prev"), -1)
        .otherwise(0)
        .cast("long")
        .alias("x2"),
        (F.col("wd") - 3).cast("long").alias("x3"),
        F.when(F.col("nxt") > F.col("kd"), 1)
        .otherwise(-1)
        .cast("long")
        .alias("y"),
    )
    seq = examples.agg(
        F.array_sort(
            F.collect_list(F.struct("day", "x2", "x3", "y"))
        ).alias("xs"),
        F.count("*").alias("n"),
    )
    init = F.struct(
        F.lit(0).cast("long").alias("w1"),
        F.lit(0).cast("long").alias("w2"),
        F.lit(0).cast("long").alias("w3"),
        F.lit(0).cast("long").alias("c"),
    )

    def step(acc, x):
        score = (
            acc["w1"] * 1 + acc["w2"] * x["x2"] + acc["w3"] * x["x3"]
        )
        pred = F.when(score > 0, F.lit(1)).otherwise(F.lit(-1))
        wrong = pred != x["y"]
        return F.struct(
            F.when(wrong, acc["w1"] + x["y"] * 1)
            .otherwise(acc["w1"])
            .alias("w1"),
            F.when(wrong, acc["w2"] + x["y"] * x["x2"])
            .otherwise(acc["w2"])
            .alias("w2"),
            F.when(wrong, acc["w3"] + x["y"] * x["x3"])
            .otherwise(acc["w3"])
            .alias("w3"),
            (acc["c"] + F.when(~wrong, 1).otherwise(0)).alias("c"),
        )

    st = F.aggregate(F.col("xs"), init, step)
    return seq.select(
        F.col("n").cast("long").alias("n_examples"),
        st["w1"].cast("long").alias("w_bias"),
        st["w2"].cast("long").alias("w_momentum"),
        st["w3"].cast("long").alias("w_weekday"),
        st["c"].cast("long").alias("n_correct"),
        _r6(st["c"] / F.col("n").cast("double")).alias("online_accuracy"),
    )


# ---------------------------------------------------------------------------
# Decision stump: best single price split predicting the return flag
# ---------------------------------------------------------------------------

_STUMP_BINS = 32


@_register(
    "decision_stump_returnflag",
    f"""
    WITH stats AS (
      SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM lineitem
    ),
    binned AS (
      SELECT least(CAST(floor((l_extendedprice - s.mn) / (s.mx - s.mn)
                               * {_STUMP_BINS}) AS INTEGER),
                   {_STUMP_BINS - 1}) AS bin,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cpos
      FROM lineitem CROSS JOIN stats s
      GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             CAST(sum(cnt) OVER (ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS ln,
             CAST(sum(cpos) OVER (ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS lpos
      FROM binned
    ),
    scored AS (
      -- weighted Gini after splitting at the bin's upper edge:
      -- left impurity * ln/n + right impurity * rn/n, all from
      -- exact integer counts with pinned divisions
      SELECT c.bin, c.ln AS n_left, s.n - c.ln AS n_right,
             c.lpos AS pos_left, s.pos - c.lpos AS pos_right,
             (2.0 * c.lpos * (c.ln - c.lpos)
              / (CAST(c.ln AS DOUBLE) * c.ln)) * (c.ln / CAST(s.n AS DOUBLE))
             + (2.0 * (s.pos - c.lpos)
                * ((s.n - c.ln) - (s.pos - c.lpos))
                / (CAST(s.n - c.ln AS DOUBLE) * (s.n - c.ln)))
               * ((s.n - c.ln) / CAST(s.n AS DOUBLE)) AS gini
      FROM cum c CROSS JOIN stats s
      WHERE c.ln > 0 AND c.ln < s.n
    ),
    best AS (
      SELECT bin FROM scored ORDER BY gini ASC, bin ASC LIMIT 1
    )
    SELECT sc.bin AS split_bin, sc.n_left, sc.n_right,
           sc.pos_left, sc.pos_right,
           floor(sc.gini * 1000000 + 0.5) / 1000000.0 AS weighted_gini,
           sc.bin = (SELECT bin FROM best) AS is_best_split
    FROM scored sc
    """,
    "Decision-stump learner: the best single split of extended "
    f"price predicting the return flag, evaluated at {_STUMP_BINS} "
    "equi-width candidate thresholds by weighted GINI impurity — "
    "chosen over entropy precisely because Gini is RATIONAL in the "
    "integer class counts (2*p*(n-p)/n^2), so every candidate's "
    "score is exact pinned arithmetic and the argmin is "
    "bit-deterministic. Emits the full candidate curve with the "
    "winner flagged — the shape (flat = no signal, V = real "
    "threshold) is the feature-usefulness diagnostic. The third "
    "learner beside `perceptron_daily_revenue` (online) and "
    "`huber_location_daily_revenue` (robust IRLS): one histogram "
    "pass, one 32-row scan — the classic distributed-tree "
    "building block (this is exactly how XGBoost-style histogram "
    "split finding works per node).",
    ("ml", "tree", "lineitem"),
)
def decision_stump_returnflag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pos_flag = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    stats = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count("*").alias("n"),
        F.sum(pos_flag).alias("pos"),
    )
    binned = (
        li.crossJoin(F.broadcast(stats))
        .groupBy(
            F.least(
                F.floor(
                    (F.col("l_extendedprice") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * _STUMP_BINS
                ).cast("int"),
                F.lit(_STUMP_BINS - 1),
            ).alias("bin")
        )
        .agg(
            F.count("*").alias("cnt"), F.sum(pos_flag).alias("cpos")
        )
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.select(
        "bin",
        F.sum("cnt").over(wc).alias("ln"),
        F.sum("cpos").over(wc).alias("lpos"),
    )
    ln = F.col("ln")
    lpos = F.col("lpos")
    rn = F.col("n") - ln
    rpos = F.col("pos") - lpos
    gini = (
        2.0 * lpos * (ln - lpos) / (ln.cast("double") * ln)
    ) * (ln / F.col("n").cast("double")) + (
        2.0 * rpos * (rn - rpos) / (rn.cast("double") * rn)
    ) * (
        rn / F.col("n").cast("double")
    )
    scored = (
        cum.crossJoin(F.broadcast(stats))
        .filter((ln > 0) & (ln < F.col("n")))
        .select(
            F.col("bin").alias("split_bin"),
            ln.cast("long").alias("n_left"),
            rn.cast("long").alias("n_right"),
            lpos.cast("long").alias("pos_left"),
            rpos.cast("long").alias("pos_right"),
            gini.alias("gini"),
        )
        .localCheckpoint(eager=False)
    )
    best = (
        scored.orderBy(F.col("gini").asc(), F.col("split_bin").asc())
        .limit(1)
        .select(F.col("split_bin").alias("best_bin"))
    )
    return scored.crossJoin(F.broadcast(best)).select(
        "split_bin",
        "n_left",
        "n_right",
        "pos_left",
        "pos_right",
        (F.floor(F.col("gini") * 1000000 + F.lit(0.5)) / 1000000.0).alias(
            "weighted_gini"
        ),
        (F.col("split_bin") == F.col("best_bin")).alias("is_best_split"),
    )


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
    from ....operators.similarity import kmeans_assign

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
    from ....operators.linalg import pca_fit, pca_project

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
