"""Deterministic sampling & dataset splitting (training-data ops).

A 100 TB training pipeline needs samples and splits that are:

* **deterministic** — re-running the job reproduces the same rows
  (no `rand()`: Spark re-evaluates nondeterministic expressions per
  retry, so a failed task could emit a different sample);
* **key-stable** — membership depends only on the row's key, so the
  same document lands in the same split across tables, days, and
  engines (the DuckDB oracle reproduces these exactly);
* **scan-local** — a filter on a hash of the key: no shuffle, no
  driver state, embarrassingly parallel.

Mechanism: the first 8 hex chars of ``md5(salt || key)`` interpreted
as a uniform fraction of 2^32. Lexicographic compare on the
fixed-width lowercase hex IS numeric compare, and md5 renders
identically everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HEX_WIDTH = 8
_SPACE = 16**HEX_WIDTH


def _bucket_hex(key: Column, salt: str) -> Column:
    """First 8 hex chars of md5(salt || key) — a uniform [0, 2^32)
    draw rendered as fixed-width hex."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), key.cast("string")).cast("binary")),
        1,
        HEX_WIDTH,
    )


def fraction_threshold_hex(fraction: float) -> str:
    """The literal h such that P[bucket < h] == fraction.

    For fraction == 1.0 the numeric threshold (2^32) would render as
    9 hex chars and compare lexicographically BELOW 8-char buckets
    starting with a letter — so keep-everything uses 'g', which sorts
    above every hex digit at fixed width."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    n = int(fraction * _SPACE)
    if n >= _SPACE:
        return "g"
    return format(n, f"0{HEX_WIDTH}x")


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "v1"
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash. Same key + salt
    → same decision, forever, on any engine."""
    thr = fraction_threshold_hex(fraction)
    return df.filter(_bucket_hex(F.col(key_col), salt) < thr)


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Adds a 'train'/'test' column by key hash — a row's assignment
    is stable across runs and across any table sharing the key."""
    thr = fraction_threshold_hex(test_fraction)
    return df.withColumn(
        split_col,
        F.when(_bucket_hex(F.col(key_col), salt) < thr, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "strata-v1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all rare ones). One scan, no shuffle: the
    per-stratum threshold is a CASE WHEN on the stratum value."""
    thr: Column = F.lit(fraction_threshold_hex(default_fraction))
    expr = None
    for value, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == value
        lit = F.lit(fraction_threshold_hex(frac))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    thr = expr.otherwise(thr) if expr is not None else thr
    return df.filter(_bucket_hex(F.col(key_col), salt) < thr)


def reservoir_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str,
    salt: str = "res-v1",
) -> DataFrame:
    """Deterministic k-row "reservoir" per group.

    The classic reservoir-sampling use case (a bounded uniform sample
    of every group, however skewed) without the classic algorithm's
    sequential-state problem: ordering each group by the md5 draw and
    keeping row_number ≤ k IS a uniform k-sample, is identical on
    re-runs and across engines, and is one hash-partition exchange —
    no driver state, no per-partition RNG seeds to coordinate. Ties
    (duplicate keys) break on the key itself, keeping the output
    fully deterministic.

    At scale: groups far larger than k still shuffle all their rows
    here; if k ≪ group size and groups are huge, pre-filter with
    ``deterministic_sample`` at a safe over-sampling rate first so
    the exchange carries ~k·log rows per group instead of all of
    them.
    """
    w = Window.partitionBy(group_col).orderBy(
        _bucket_hex(F.col(key_col), salt).asc(),
        F.col(key_col).cast("string").asc(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def mixture_reweight(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    target_weights: dict[str, float] | None = None,
    salt: str = "mix-v1",
) -> DataFrame:
    """Downsample strata so the surviving rows match a target mixture.

    The standard training-data "domain mixing" op: given observed
    stratum sizes n_s and target shares w_s (default uniform over the
    observed strata), the largest feasible corpus with exactly that
    mixture is T = min_s(n_s / w_s); each stratum keeps kept_s =
    T * w_s rows, i.e. a per-stratum rate r_s = T * w_s / n_s.

    The keep decision reuses the deterministic md5 draw from
    :func:`deterministic_sample` compared against a *runtime*
    threshold: ``printf('%08x', floor(r * 2^32))`` — identical SQL on
    any engine, so the DuckDB oracle reproduces membership exactly.
    r == 1 (the binding stratum) bypasses the compare, since 2^32
    renders as 9 hex chars and would break the fixed-width trick.

    Scale shape: one tiny per-stratum count aggregate (k rows),
    broadcast back onto the scan, then a scan-local filter — no big
    shuffle, no driver loop, rerun-stable under task retries.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n"))
    if target_weights is None:
        # Uniform mixture: T = min_s(n_s / (1/k)) = k * min(n_s), so
        # rate_s = T*(1/k)/n_s = min(n_s)/n_s. One global agg packs the
        # k strata into a single row (k is small by construction — it's
        # the number of domains), avoiding a global WindowExec.
        packed = counts.agg(
            F.collect_list(
                F.struct(F.col(strata_col).alias("_s"), F.col("_n"))
            ).alias("_rows"),
            F.min("_n").alias("_minn"),
        )
        rates = (
            packed.select(F.explode("_rows").alias("_r"), "_minn")
            .select(
                F.col("_r._s").alias(strata_col),
                (F.col("_minn") / F.col("_r._n")).alias("_rate"),
            )
        )
    else:
        total_w = sum(target_weights.values())
        expr = None
        for value, w in sorted(target_weights.items()):
            lit = F.lit(w / total_w)
            cond = F.col(strata_col) == value
            expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
        counts = counts.withColumn("_w", expr.otherwise(F.lit(0.0)))
        counts = counts.filter(F.col("_w") > 0)
        packed = counts.agg(
            F.collect_list(
                F.struct(
                    F.col(strata_col).alias("_s"), F.col("_n"), F.col("_w")
                )
            ).alias("_rows"),
            F.min(F.col("_n") / F.col("_w")).alias("_t"),
        )
        rates = (
            packed.select(F.explode("_rows").alias("_r"), "_t")
            .select(
                F.col("_r._s").alias(strata_col),
                (F.col("_t") * F.col("_r._w") / F.col("_r._n")).alias("_rate"),
            )
        )
    thr = F.format_string(
        "%08x", F.floor(F.col("_rate") * F.lit(float(_SPACE))).cast("bigint")
    )
    return (
        df.join(F.broadcast(rates), on=strata_col, how="inner")
        .filter(
            (F.col("_rate") >= 1.0) | (_bucket_hex(F.col(key_col), salt) < thr)
        )
        .drop("_rate")
    )


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    salt: str = "prio-v1",
    priority_col: str = "priority",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield/Lund/Thorup): each row draws a deterministic uniform
    u ∈ (0, 1] from its key hash and competes with priority
    q = weight / u; the top-``k`` priorities (per ``group_col`` if
    given) are the sample. Inclusion probability is ∝ weight (heavy
    rows draw proportionally more of the top slots), the estimator
    family over the kept rows is unbiased, and — unlike weighted
    ``rand()`` approaches — the same key + salt + weights reproduce
    the same sample on every run, every retry, every engine.

    Scan-local until the top-k (one window shuffle on the group key;
    global top-k should feed a ``group_col`` bucketing or a two-phase
    per-partition head at 100 TB).
    """
    h = F.conv(_bucket_hex(F.col(key_col), salt), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(_SPACE))
    q = F.col(weight_col).cast("double") / u
    parts = [group_col] if group_col else []
    w = Window.partitionBy(*parts).orderBy(
        F.desc(priority_col), F.col(key_col)
    )
    return (
        df.withColumn(priority_col, q)
        .withColumn("_prio_rn", F.row_number().over(w))
        .filter(F.col("_prio_rn") <= k)
        .drop("_prio_rn")
    )


def kfold_assign(
    df: DataFrame,
    key_col: str,
    k: int = 5,
    salt: str = "kfold-v1",
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: fold = uniform-hash(key) mod k.

    The cross-validation layer on top of :func:`train_test_split`'s
    hash discipline — the same key + salt lands in the same fold on
    every run, every engine, every retry, so folds can be recomputed
    anywhere without storing an assignment table, and rows sharing a
    key (a user's events, a document's chunks) NEVER straddle the
    train/validation boundary of any fold. Fold sizes are
    multinomially balanced (hash-uniform), not exactly equal —
    stratify by evaluating per group when exact per-stratum balance
    matters."""
    if k < 2:
        raise ValueError(f"k-fold needs k >= 2, got {k}")
    h = F.conv(_bucket_hex(F.col(key_col), salt), 16, 10).cast("long")
    return df.withColumn(fold_col, (h % k).cast("int"))
