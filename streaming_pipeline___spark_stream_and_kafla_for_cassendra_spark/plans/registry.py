"""Declared-query registry — the engine's enumerable query surface.

Every operator family from SURVEY.md §2 (plus the training-data
extensions) is represented as a named query: a DataFrame builder
``(spark, sf_dir) -> DataFrame`` paired, where SQL can express it,
with an ANSI-SQL oracle string the driver runs on DuckDB over the
same parquet tables. Column names AND types are aligned on both
sides; float aggregates are rounded identically (4–6 decimals) so
order-insensitive value hashes match.

Type-parity notes (Spark ↔ DuckDB):
* DuckDB ``sum(INTEGER)`` is HUGEINT → cast to BIGINT in oracles.
* DuckDB ``hour()``/``len()``/``row_number()`` are BIGINT → cast to
  INTEGER where Spark produces int.
* DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all semantics.
* cosine similarity computed in double precision on both sides with
  identical left-to-right summation order.
"""

from __future__ import annotations

import functools as _functools
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    DEFAULT_STOPWORDS,
    LANG_STOPWORDS,
    content_fingerprint,
    lang_id_heuristic,
    punct_ratio,
    quality_bucket,
    stopword_ratio,
    token_count,
    tokens,
)
from . import legs as _legs
from .legs import clear as clear_shared_leg_cache  # noqa: F401


def _langid_oracle() -> str:
    """DuckDB twin of ``lang_id_heuristic``, generated from the SAME
    ``LANG_STOPWORDS`` tables so the two engines cannot drift. Spark's
    ``array_max`` over (score, lang) structs is lexicographic — max
    score, ties broken by the GREATEST lang string — reproduced here
    as a descending-lang CASE chain over exact score equality (both
    engines compute score as the identical int/int IEEE divide)."""
    scores = ", ".join(
        "len(list_filter(toks, x -> x IN ({0}))) / greatest(len(toks), 1)"
        " AS s_{1}".format(", ".join(f"'{w}'" for w in sw), lang)
        for lang, sw in LANG_STOPWORDS.items()
    )
    case = "\n           ".join(
        f"WHEN s_{lang} = best THEN '{lang}'"
        for lang in sorted(LANG_STOPWORDS, reverse=True)
    )
    best = ", ".join(f"s_{lang}" for lang in LANG_STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, lang AS labeled_lang,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, labeled_lang, {scores}
      FROM t
    ), b AS (
      SELECT *, greatest({best}) AS best FROM s
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN best <= 0 THEN 'und'
           {case}
           END AS guessed_lang
    FROM b
    """
from ..operators.dedup import (
    connected_components,
    dedup_exact,
    minhash_lsh_pairs,
    simhash_fingerprints,
)
from ..operators.joins import asof_join, range_join
from ..operators.multimodal import extract_image_features, synthetic_media_from_documents
from ..operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    label_centroids,
    lsh_topk,
)
from ..sources.tables import load_table


@dataclass(frozen=True)
class QueryDef:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    # str = static SQL; callable = LAZY generator (for oracles whose
    # SQL embeds fixture-derived literals — e.g. replayed trainer
    # factors — too expensive to compute at import time). A callable
    # may return None → treated as rows-only for that run.
    oracle: str | Callable[[], str | None] | None
    description: str
    tags: tuple[str, ...] = field(default_factory=tuple)


def resolve_oracle(q: "QueryDef") -> str | None:
    """The one place callable oracles are evaluated (memoize inside
    the callable itself if generation is expensive)."""
    return q.oracle() if callable(q.oracle) else q.oracle


REGISTRY: list[QueryDef] = []


_REGISTERED_NAMES: set[str] = set()


# State-partition sizing rule (VERDICT r6 #8 — replaces the r6
# per-query hand table). Two classes, keyed by registration tag:
#
# * ``python-stateful`` (applyInPandasWithState operators): the
#   per-group work runs in PYTHON workers and is CPU-bound Arrow
#   group processing, so these keep the full session parallelism
#   (measured r6: sessionize 4.4 s at 32 parts vs 8.6 s at 8).
# * everything else (JVM stateful: windowed agg, dedup,
#   stream-stream join): partition count derives from an ESTIMATED
#   state volume — per-partition state-store open/commit/snapshot
#   cost is paid EVERY micro-batch, so partitions must scale with
#   state, not default to the batch shuffle conf.
_STATE_FRACTION = 0.25  # in-flight state ≈ watermark-window of input
_STATE_TARGET_BYTES = 64 << 20  # per-partition state target
_STATE_MIN_PARTITIONS = 8  # floor that amortizes store fixed cost


def _stream_state_partitions(sf_dir: str | None = None) -> int:
    """State-store partition count for JVM-stateful streaming queries.

    Structured Streaming freezes ``spark.sql.shuffle.partitions`` into
    each query's checkpoint at first start. The sizing rule estimates
    state volume as ``_STATE_FRACTION`` of the largest streamed fact
    table's on-disk bytes (events/documents/embeddings — watermarked
    operators hold roughly a window of in-flight input; dedup holds a
    key projection, strictly less) and provisions one partition per
    ``_STATE_TARGET_BYTES``, floored at ``_STATE_MIN_PARTITIONS``
    (the measured fixture-scale optimum: the sf0.1 interval join runs
    ~3× faster at 8 partitions than at the batch default 32, because
    store fixed costs dominate a few MB of state) and rounded to a
    power of two. At the fixtures this reproduces the r6 pin (8); at
    100 TB the same rule provisions thousands of partitions instead
    of silently serializing state through 8. ``SPARK_GRAFT_STREAM_
    SHUFFLE`` still overrides for production tuning."""
    import math
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        return int(env)
    biggest = 0
    if sf_dir:
        for t in ("events", "documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            try:
                if os.path.isdir(p):
                    sz = sum(
                        os.path.getsize(os.path.join(p, f))
                        for f in os.listdir(p)
                    )
                else:
                    sz = os.path.getsize(p)
            except OSError:
                continue
            biggest = max(biggest, sz)
    state_bytes = biggest * _STATE_FRACTION
    n = _STATE_MIN_PARTITIONS
    if state_bytes > _STATE_TARGET_BYTES * _STATE_MIN_PARTITIONS:
        n = 1 << math.ceil(math.log2(state_bytes / _STATE_TARGET_BYTES))
    return n


class _stream_conf:
    """Pin shuffle partitions for the lifetime of a streaming
    builder (set → build+run → restore). Plain try/finally class so
    the wrapped builder stays picklable and introspectable.
    ``python-stateful``-tagged queries leave the session conf
    untouched (full parallelism — see the sizing-rule comment)."""

    def __init__(self, spark, name, sf_dir=None, tags=()):
        self.spark = spark
        self.name = name
        self.sf_dir = sf_dir
        self.tags = tags

    def __enter__(self):
        self.key = "spark.sql.shuffle.partitions"
        self.old = self.spark.conf.get(self.key)
        if "python-stateful" not in self.tags:
            self.spark.conf.set(
                self.key, str(_stream_state_partitions(self.sf_dir))
            )

    def __exit__(self, *exc):
        self.spark.conf.set(self.key, self.old)
        return False


def _register(name, oracle, description, tags=()):
    def deco(fn):
        # a duplicate name would silently shadow the earlier query in
        # the driver's name-keyed dict — refuse at import time instead
        if name in _REGISTERED_NAMES:
            raise ValueError(f"duplicate registry query name: {name!r}")
        _REGISTERED_NAMES.add(name)
        builder = fn
        if "streaming" in tags:
            # Streaming builders run their query to completion inside
            # the builder (availableNow → memory/lake sink), so the
            # state-partition pin can wrap the whole body and restore
            # the batch default before the caller collects.
            import functools

            @functools.wraps(fn)
            def tuned(spark, sf_dir, _fn=fn, _name=name, _tags=tuple(tags)):
                with _stream_conf(spark, _name, sf_dir, _tags):
                    return _fn(spark, sf_dir)

            builder = tuned
        REGISTRY.append(
            QueryDef(name, builder, oracle, description, tuple(tags))
        )
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _await_stream(q, timeout):
    """Await an availableNow query; fail loudly instead of silently.

    ``awaitTermination(timeout)`` returns False on timeout and leaves
    the query RUNNING — a later ``spark.stop()`` then kills it mid
    micro-batch and the JVM prints a scary (but harmless) interrupt
    stack trace, while the caller reads a PARTIAL sink table. Raising
    here turns that silent wrong-answer mode into a visible failure,
    and stopping the query first keeps shutdown clean."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"streaming query {q.name or q.id} did not finish within {timeout}s"
        )


def _stable_avg4(sum_col, cnt_col):
    """Engine-stable 4-decimal average of a 2-decimal-valued sum.

    ``round(sum/count, 4)`` diverges between Spark and DuckDB when the
    quotient is exactly on a decimal rounding boundary (Spark rounds
    the shortest string repr HALF_UP; DuckDB rounds the binary
    double). ``floor(x*1e4 + 0.5)/1e4`` is pure IEEE arithmetic —
    identical on any engine. The inner round(sum, 2) is safe because a
    2-decimal-valued sum round-trips identically on both engines."""
    q = F.round(sum_col, 2) / cnt_col
    return F.floor(q * 10000 + F.lit(0.5)) / F.lit(10000.0)


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.3/2.4/2.6/2.8/2.9 + §2.7 analytic windows)
# ---------------------------------------------------------------------------

@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           floor(round(sum(l_quantity), 2) / count(*) * 10000 + 0.5) / 10000.0      AS avg_qty,
           floor(round(sum(l_extendedprice), 2) / count(*) * 10000 + 0.5) / 10000.0 AS avg_price,
           floor(round(sum(l_discount), 2) / count(*) * 10000 + 0.5) / 10000.0      AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style pricing summary: scan-heavy groupBy/agg (A1/A4 family)",
    ("agg", "flagship"),
)
def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            _stable_avg4(F.sum("l_quantity"), F.count("*")).alias("avg_qty"),
            _stable_avg4(F.sum("l_extendedprice"), F.count("*")).alias("avg_price"),
            _stable_avg4(F.sum("l_discount"), F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "q03_shipping_priority",
    """
    SELECT l.l_orderkey AS o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01'
      AND l.l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q3-style: 3-way join + agg + top-k by aggregate (J2/O2)",
    ("join", "agg", "topk"),
)
def q03_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("o_orderkey"), "o_orderdate", "o_orderpriority"
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@_register(
    "q05_region_revenue",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    "TPC-H Q5-style 6-way join: broadcast small dims, shuffle facts (J1/J2)",
    ("join", "agg", "broadcast"),
)
def q05_region_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    # region/nation are always tiny → explicit broadcast; customer/supplier
    # joins stay shuffle joins (AQE may still broadcast them at small SF).
    dims = F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(dims, c.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@_register(
    "q06_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6-style: pure filter + global agg; predicate-pushdown showcase (P3/F11)",
    ("filter", "agg", "pushdown"),
)
def q06_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           round(c.c_acctbal, 4) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10-style returned-item ranking (join+agg+topk)",
    ("join", "agg", "topk"),
)
def q10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_register(
    "q18_large_orders",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 4) AS o_totalprice,
           round(sum(l.l_quantity), 4) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    "TPC-H Q18-style: semi-join against HAVING subquery (J family + A4)",
    ("join", "agg", "semi"),
)
def q18_large_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 150)
        .select("l_orderkey")
    )
    return (
        l.join(big.withColumnRenamed("l_orderkey", "_bk"),
               F.col("l_orderkey") == F.col("_bk"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"), "sum_qty",
        )
    )


@_register(
    "left_join_order_counts",
    """
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS order_count,
           round(coalesce(sum(o.o_totalprice), 0), 4) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    "J2 parity: the reference's monitoring LEFT JOIN + per-entity counts "
    "(KAFKA_LEARNING_MANUAL.md:459-463)",
    ("join", "agg"),
)
def left_join_order_counts(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias(
                "total_spent"
            ),
        )
    )


@_register(
    "anti_join_inactive_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
    "Left-anti join: customers with no big-ticket orders, per segment (§2.4)",
    ("join", "anti"),
)
def anti_join_inactive_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@_register(
    "semi_join_overdrawn_buyers",
    """
    SELECT c.c_custkey, round(c.c_acctbal, 4) AS c_acctbal
    FROM customer c
    WHERE c.c_acctbal < 0
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "Left-semi join: overdrawn customers that still have orders (§2.4)",
    ("join", "semi"),
)
def semi_join_overdrawn_buyers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.round("c_acctbal", 4).alias("c_acctbal")
    )


@_register(
    "full_outer_nation_presence",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers
               FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
          FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_customers, s.n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    "Full outer join: customer vs supplier presence per nation — each "
    "side can be null (§2.4 join family completion)",
    ("join", "outer"),
)
def full_outer_nation_presence(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk2"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.nk == s.nk2, "full_outer").select(
        F.coalesce("nk", "nk2").alias("nationkey"), "n_customers", "n_suppliers"
    )


@_register(
    "set_ops_customer_cohorts",
    """
    SELECT c_custkey FROM (
      (SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 50000
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      UNION
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    """,
    "Set operations: INTERSECT/UNION/EXCEPT cohort algebra (§2.9)",
    ("setops",),
)
def set_ops_customer_cohorts(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big_buyers = o.filter(F.col("o_totalprice") > 50000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    overdrawn = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        big_buyers.intersect(rich).union(building).distinct().subtract(overdrawn)
    )


@_register(
    "window_rank_top_orders",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    "Analytic window: top-3 orders per customer via row_number (§2.7)",
    ("window",),
)
def window_rank_top_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"), "rn",
        )
    )


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
    "orders_sort_limit",
    """
    SELECT o_orderkey, o_custkey, o_orderdate, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 10
    """,
    "O1 parity: ORDER BY ... DESC LIMIT 10 monitoring query "
    "(PROJECT_DOCUMENTATION.md:556-557)",
    ("sort", "limit"),
)
def orders_sort_limit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(10)
        .select(
            "o_orderkey", "o_custkey", "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
    )


@_register(
    "case_when_order_buckets",
    """
    SELECT CASE WHEN o_totalprice < 10000 THEN 'small'
                WHEN o_totalprice <= 100000 THEN 'medium'
                ELSE 'large' END AS price_bucket,
           o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_value
    FROM orders
    GROUP BY 1, 2
    """,
    "F4 parity: CASE WHEN bucketing taxonomy (MSP:129-192 pattern)",
    ("casewhen", "agg"),
)
def case_when_order_buckets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 10000, "small")
        .when(F.col("o_totalprice") <= 100000, "medium")
        .otherwise("large")
    )
    return (
        o.withColumn("price_bucket", bucket)
        .groupBy("price_bucket", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Events: scalar-function census, JSON, windowed aggs (SURVEY §2.5/2.6/2.10)
# ---------------------------------------------------------------------------

@_register(
    "scalar_function_census",
    """
    SELECT event_id,
           upper(event_type)                                   AS etype_upper,
           CAST(hour(ts) AS INTEGER)                           AS ts_hour,
           CAST(ts AS DATE)                                    AS event_date,
           hour(ts) BETWEEN 9 AND 17                           AS is_business_hours,
           CASE WHEN value < 10 THEN 'small'
                WHEN value <= 100 THEN 'medium'
                ELSE 'large' END                               AS value_bucket,
           CAST(json_extract_string(props, '$.k') AS INTEGER)  AS prop_k,
           coalesce(nullif(event_type, 'error'), 'unknown')    AS safe_type,
           event_type LIKE '%ick%'                             AS contains_ick,
           concat_ws('-', CAST(event_id AS VARCHAR), event_type) AS event_tag
    FROM events
    """,
    "Scalar-function census F1-F13: cast/when/isin/contains/lit/hour/"
    "to_date/coalesce/json-extract/concat (SURVEY §2.5)",
    ("functions", "events"),
)
def scalar_function_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.upper("event_type").alias("etype_upper"),
        F.hour("ts").alias("ts_hour"),
        F.to_date("ts").alias("event_date"),
        ((F.hour("ts") >= 9) & (F.hour("ts") <= 17)).alias("is_business_hours"),
        F.when(F.col("value") < 10, "small")
        .when(F.col("value") <= 100, "medium")
        .otherwise("large")
        .alias("value_bucket"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.coalesce(
            F.nullif(F.col("event_type"), F.lit("error")), F.lit("unknown")
        ).alias("safe_type"),
        F.col("event_type").contains("ick").alias("contains_ick"),
        F.concat_ws(
            "-", F.col("event_id").cast("string"), F.col("event_type")
        ).alias("event_tag"),
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
    "cdc_roundtrip_counts",
    """
    SELECT CASE WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
           count(*) AS n_events,
           count(DISTINCT user_id) AS unique_users
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1
    """,
    "F1/F2 + S3 parity: build Debezium envelopes with to_json(struct(*)), "
    "decode with the two-stage from_json parse (op filter drops 'd'), "
    "aggregate — the oracle states the expected post-decode truth",
    ("cdc", "json", "events"),
)
def cdc_roundtrip_counts(spark, sf_dir):
    from ..schemas import DEBEZIUM_ENVELOPE_SCHEMA  # noqa: F401 (parity doc)
    from ..sources.cdc import decode_cdc
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    e = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    envelope = F.to_json(
        F.struct(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.to_json(
                    F.struct("event_id", "event_type", "user_id")
                ).alias("after"),
                op.alias("op"),
                (F.unix_timestamp("ts") * 1000).alias("ts_ms"),
            ).alias("payload")
        )
    )
    raw = e.select(envelope.alias("value"))
    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
        ]
    )
    decoded = decode_cdc(raw, payload_schema)
    return decoded.groupBy("op").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("unique_users"),
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
    "sql_surface_nation_rank",
    """
    WITH rev AS (
      SELECT n.n_name,
             CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
      FROM nation n
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY n.n_name, 2
    )
    SELECT n_name, order_year, revenue,
           CAST(rank() OVER (PARTITION BY order_year
                             ORDER BY revenue DESC, n_name) AS INTEGER) AS rev_rank
    FROM rev
    WHERE order_year <= 2000
    """,
    "S6: the batch SQL analytics surface — spark.sql over registered "
    "views (CTE + multi-join + window rank), the engine's Hive-SQL "
    "equivalent",
    ("sql", "join", "window"),
)
def sql_surface_nation_rank(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
          SELECT n.n_name,
                 CAST(year(o.o_orderdate) AS INT) AS order_year,
                 round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
          FROM nation n
          JOIN customer c ON c.c_nationkey = n.n_nationkey
          JOIN orders o   ON o.o_custkey = c.c_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY n.n_name, 2
        )
        SELECT n_name, order_year, revenue,
               CAST(rank() OVER (PARTITION BY order_year
                                 ORDER BY revenue DESC, n_name) AS INT) AS rev_rank
        FROM rev
        WHERE order_year <= 2000
        """
    )


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text / similarity / multimodal
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in DEFAULT_STOPWORDS) + "]"


@_register(
    "dedup_exact_documents",
    """
    SELECT min(doc_id) AS doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           count(*) AS dup_count
    FROM documents
    GROUP BY 2
    """,
    "Exact dedup: normalized-content MD5 hash-groupBy, keep lowest id "
    "(training-data op; shuffles 16-byte hashes, never text)",
    ("dedup", "documents"),
)
def dedup_exact_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup_exact(d, "text", "doc_id")


@_register(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM toks)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2
    """,
    "Exact 3-gram Jaccard near-dup pairs via inverted-index self-join "
    "with a LOSSLESS frequent-gram df cap (df_capped_jaccard_pairs: "
    "rare grams drive the candidate join with ≤cap-wide buckets; the "
    "stop-gram-heavy stratum that could qualify via frequent grams "
    "alone re-joins separately; array_intersect verifies exactly) — "
    "identical output, linear instead of quadratic stop-gram cost. "
    "Served from the materialized shared mining leg (_ngram_pair_leg) "
    "since r7: the five-query dedup family pays ONE mining run per "
    "sweep instead of two (VERDICT r6 #1 mine-once ordering); the "
    "cost-based pre-flight still runs inside the leg's thunk on every "
    "cache miss",
    ("dedup", "ngram", "documents"),
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    return _ngram_pair_leg(spark, sf_dir)


# The four downstream dedup reports (clusters, canonical election,
# keep-best, survivorship audit) all derive from the SAME exact
# 3-gram Jaccard pair graph with the same parameters. Recomputing the
# mining leg per report was the single largest recurring cost in the
# catalog's sf1 sweep (~150 s × 4 redundant recomputes); at 100 TB a
# pipeline materializes the pair graph once and derives every report
# from it. This helper is that materialized shared intermediate,
# served through the shared-leg cache (plans/legs.py), whose derived
# key invalidates on any input-file or package-source change. Since
# r7 the headline ``ngram_jaccard_pairs`` query reads the leg too
# (VERDICT r6 #1: the sf1 sweep paid the ~150 s mining leg twice —
# once live, once for the first derived query's materialization). The
# miner's own plan stays covered by tests/test_mining_guard.py and the
# operator suite; the family was already HEAVY_BUILDERS-listed in the
# plan sweep (the pre-flight histogram executes at build).
_NGRAM_LEG_PARAMS = dict(
    shingle_n=3, threshold=0.2, max_gram_df=256, candidate_budget=50_000_000
)


#: Queries served (fully or for their dominant leg) from the
#: fingerprint-keyed shared-leg cache. Bench runs time these with an
#: explicit cold/warm split (VERDICT r6 #4): per-query numbers for
#: cache readers otherwise measure a parquet read and the round-over-
#: round diff stops being interpretable.
CACHE_BACKED_QUERIES = frozenset(
    {
        "ngram_jaccard_pairs",
        "near_dup_clusters",
        "near_dup_canonical_docs",
        "dedup_keep_best_documents",
        "dedup_survivorship_audit",
        "reco_precision_at_k",
        "reco_mrr_at_k",
        "reco_ndcg_at_k",
        # r9: trainer legs — ALS factor tables (per variant) and the
        # BPE merge table. Cold = train + publish, warm = read +
        # serve; the bench's cold/warm split keeps the true training
        # cost visible.
        "als_recommend_parts",
        "als_rmse_floor",
        "bpe_merges_documents",
        "bpe_token_counts_documents",
        "tokenizer_fertility_by_lang",
    }
)


def _mine_ngram_pairs(docs):
    from ..operators import dedup as _dd

    return _dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", **_NGRAM_LEG_PARAMS
    )


def _ngram_pair_leg(spark, sf_dir):
    from ..operators import dedup as _dd

    # LAST_MINING_PLAN observability survives the cache: on a miss the
    # build's pre-flight records its decision as usual; on a hit no
    # pre-flight ran, and leaving a STALE decision visible would lie
    # to tools reading it — record the hit explicitly instead.
    _dd.LAST_MINING_PLAN = None
    docs = _t(spark, sf_dir, "documents")
    res = _legs.leg(spark, docs, _mine_ngram_pairs)
    if _dd.LAST_MINING_PLAN is None:
        _dd.LAST_MINING_PLAN = {
            "path": "served-from-shared-leg-cache",
            "params": dict(_NGRAM_LEG_PARAMS),
        }
    return res


@_register(
    "near_dup_clusters",
    """
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM toks)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) inter
      JOIN cnt ca ON ca.doc_id = id_a
      JOIN cnt cb ON cb.doc_id = id_b
      WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    )
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    """,
    "Near-duplicate clustering: connected components (min-label "
    "propagation + pointer jumping, O(log diameter) iterations) over "
    "the exact 3-gram Jaccard pair graph — every cluster member maps "
    "to the minimum doc_id of its component; oracle is a recursive-"
    "CTE reachability fixpoint over the same edge set. The pair graph "
    "is served from the materialized shared mining leg "
    "(_ngram_pair_leg: shared-leg cache, invalidated by any input-"
    "file or package-source change) — the four downstream "
    "dedup reports reuse one mining run instead of four",
    ("dedup", "clustering", "iterative", "documents"),
)
def near_dup_clusters_q(spark, sf_dir):
    pairs = _ngram_pair_leg(spark, sf_dir)
    labels = connected_components(pairs, "id_a", "id_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def _minhash_banded_ctes() -> str:
    """Shared CTE prefix (``toks`` … ``banded``) that re-derives the
    bit-exact MinHash band slices from the SAME hash constants
    (``operators/dedup.py::minhash_constants``) — consumed by the
    ``minhash_lsh_pairs`` oracle and the streaming-dedup-survivors
    oracle. uint64 wraparound multiplication — which DuckDB's checked
    integer arithmetic refuses — is emulated as a 32-bit split
    multiply in HUGEINT (a·b mod 2⁶⁴ = (a_lo·b + ((a_hi·b) mod
    2³²)·2³²) mod 2⁶⁴; every term < 2⁹⁷ fits HUGEINT). Band-slice
    LIST equality is semantically what Spark's bucket-hash equi-join
    computes."""
    from ..operators.dedup import minhash_constants

    a_ints, b_ints = minhash_constants(64)
    consts = ", ".join(
        f"({i}, {a}::HUGEINT, {b}::HUGEINT)"
        for i, (a, b) in enumerate(zip(a_ints, b_ints))
    )
    mod = "18446744073709551616"
    gb = str(0x9E3779B97F4A7C15)

    def modmul(a: str, b: str) -> str:
        return (
            f"((({a}) % 4294967296) * ({b}) + "
            f"((({a}) // 4294967296) * ({b}) % 4294967296) * 4294967296) "
            f"% {mod}"
        )

    return f"""toks AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(generate_series(1, len(l))) AS ord
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS l
        FROM documents
      )
      WHERE len(l) >= 3
    ),
    hashed AS (
      SELECT doc_id, ord,
             CAST(CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT)
                  AS HUGEINT) AS h
      FROM toks
    ),
    grams AS (
      SELECT h1.doc_id,
             {modmul(modmul("h1.h", gb) + " + h2.h", gb)} + h3.h AS raw
      FROM hashed h1
      JOIN hashed h2 ON h2.doc_id = h1.doc_id AND h2.ord = h1.ord + 1
      JOIN hashed h3 ON h3.doc_id = h1.doc_id AND h3.ord = h1.ord + 2
    ),
    shingles AS (SELECT DISTINCT doc_id, raw % {mod} AS key FROM grams),
    consts(i, a, b) AS (VALUES {consts}),
    mins AS (
      SELECT s.doc_id, c.i,
             min(({modmul("s.key", "c.a")} + c.b) % {mod}) AS mh
      FROM shingles s CROSS JOIN consts c
      GROUP BY 1, 2
    ),
    sigs AS (
      SELECT doc_id, list(mh ORDER BY i) AS mh FROM mins GROUP BY 1
    ),
    banded AS (
      SELECT doc_id, j, mh[1 + 4*j : 4 + 4*j] AS slc
      FROM sigs, (SELECT unnest(generate_series(0, 15)) AS j)
    )"""


def _minhash_lsh_oracle(threshold: float = 0.35) -> str:
    """DuckDB twin of ``minhash_lsh_pairs`` — see
    :func:`_minhash_banded_ctes` for the signature replication;
    candidates (pairs agreeing on ≥1 full band slice) are verified at
    the same signature-agreement threshold."""
    return f"""
    WITH {_minhash_banded_ctes()},
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.j = y.j AND x.slc = y.slc AND x.doc_id < y.doc_id
    ),
    est AS (
      SELECT id_a, id_b,
             len(list_filter(generate_series(1, 64),
                             i -> sa.mh[i] = sb.mh[i])) / 64.0 AS e
      FROM cand
      JOIN sigs sa ON sa.doc_id = id_a
      JOIN sigs sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, round(e, 4) AS est_jaccard
    FROM est WHERE e >= {threshold}
    """


@_register(
    "minhash_lsh_pairs",
    _minhash_lsh_oracle(threshold=0.35),
    "MinHash(64) + LSH(16 bands) near-dup candidates with signature-"
    "agreement verification — the sub-quadratic scale path for dedup. "
    "The DuckDB oracle re-derives the EXACT pipeline (md5 token "
    "hashes, Horner shingle keys and universal-hash minima under "
    "emulated uint64 wraparound, band-slice-equality candidates, the "
    "same 0.35 verify threshold) from the same constants — every "
    "surviving pair and its estimate must match to the bit",
    ("dedup", "minhash", "lsh", "documents"),
)
def minhash_lsh_pairs_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "text", "doc_id", threshold=0.35)


@_register(
    "simhash_fingerprints",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, (SELECT unnest(generate_series(0, 63)) AS b)
      GROUP BY 1, 2
    ),
    packed AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0
                      THEN CAST(1 AS HUGEINT) << b ELSE 0 END) AS uval
      FROM votes GROUP BY 1
    )
    SELECT doc_id,
           CAST(uval - CASE WHEN uval >= CAST(1 AS HUGEINT) << 63
                            THEN CAST(1 AS HUGEINT) << 64 ELSE 0 END
                AS BIGINT) AS simhash
    FROM packed
    """,
    "64-bit SimHash fingerprint per document (tf-weighted ±1 bit "
    "votes on md5-top-8-byte token hashes, packed sign vector). The "
    "DuckDB oracle re-derives the EXACT fingerprint relationally — "
    "unnest tokens × 64 bit positions, vote sums, HUGEINT repack — "
    "proving the vectorized Arrow pass computes the same bits the "
    "declarative definition does, to the last bit",
    ("dedup", "simhash", "documents"),
)
def simhash_fingerprints_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return simhash_fingerprints(d, "text", "doc_id")


@_register(
    "text_token_stats",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                AS INTEGER) AS n_tokens,
           n_chars,
           round(n_chars * 1.0 /
                 greatest(len(list_filter(string_split(lower(text), ' '),
                                          t -> t <> '')), 1), 4) AS chars_per_token
    FROM documents
    """,
    "Token counting: whitespace tokens + chars-per-token ratio (text "
    "analysis op, pure codegen, no shuffle)",
    ("text", "documents"),
)
def text_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    nt = token_count(F.col("text"))
    return d.select(
        "doc_id",
        nt.alias("n_tokens"),
        "n_chars",
        F.round(
            F.col("n_chars") / F.greatest(nt, F.lit(1)), 4
        ).alias("chars_per_token"),
    )


@_register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
             length(text) AS n_c,
             length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
      FROM documents
    )
    SELECT doc_id,
           round(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
                 / greatest(len(toks), 1), 4) AS stop_ratio,
           round((n_c - n_nopunct) * 1.0 / greatest(n_c, 1), 4) AS punct_ratio,
           CASE WHEN len(toks) < 5 THEN 'too_short'
                WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
                     / greatest(len(toks), 1) > 0.5 THEN 'boilerplate'
                ELSE 'ok' END AS quality
    FROM t
    """,
    "Quality scoring: stopword ratio, punctuation ratio, Gopher/C4-style "
    "quality bucket (text analysis op)",
    ("text", "quality", "documents"),
)
def text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
        F.round(punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        quality_bucket(F.col("text")).alias("quality"),
    )


@_register(
    "lang_source_distribution",
    """
    SELECT lang, source,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
    "Corpus profiling: language × source distribution (text analysis op)",
    ("text", "agg", "documents"),
)
def lang_source_distribution(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@_register(
    "langid_heuristic",
    _langid_oracle(),
    "Language-ID heuristic: stopword-set voting per language (text "
    "analysis op; the synthetic corpus shares one vocabulary, so this "
    "checks plumbing + determinism, not accuracy). The DuckDB oracle "
    "re-derives the vote (per-language stopword-hit fraction, argmax "
    "with Spark array_max's lexicographic tie-break = greatest lang "
    "string) from the same stopword tables, so the two engines must "
    "agree doc-by-doc",
    ("text", "langid", "documents"),
)
def langid_heuristic_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id_heuristic(F.col("text")).alias("guessed_lang"),
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


def _hyperplane_sig_ctes(n_bands: int = 8, band_bits: int = 8,
                         dim: int = 64, seed: int = 42) -> str:
    """Shared CTE prefix (``planes`` … ``sig``) replicating the seeded
    hyperplane sign-banding as full-precision SQL literals
    (``repr(float)`` round-trips float64 exactly), so both engines
    bucket against IDENTICAL planes. Consumed by the ``ann_topk_lsh``
    oracle and the streaming vector-dedup oracle. The only
    cross-engine freedom is summation order inside a ``dim``-term dot
    product — a sign can differ only if |dot| ≲ 1e-13, vanishingly
    unlikely for unit-scale data."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * band_bits, dim))
    rows = ",\n      ".join(
        "({}, [{}])".format(
            p, ", ".join(repr(float(v)) for v in planes[p])
        )
        for p in range(planes.shape[0])
    )
    return f"""planes AS (
      SELECT * FROM (VALUES
      {rows}
      ) AS p(pid, w)
    ),
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    sig AS (
      SELECT e.vec_id,
             CAST(p.pid // {band_bits} AS INTEGER) AS band,
             SUM(CASE WHEN list_dot_product(e.emb, p.w) > 0
                      THEN CAST(1 AS BIGINT) << (p.pid % {band_bits})
                      ELSE 0 END) AS bucket
      FROM e CROSS JOIN planes p
      GROUP BY e.vec_id, p.pid // {band_bits}
    )"""


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


def _kmeans_chain_ctes(k: int = 16, iters: int = 10,
                       train_sample: int = 2000) -> str:
    """Generated CTE chain replaying the spherical-k-means coarse
    quantizer EXACTLY (``_train_spherical_quantizer``): the sample is
    the ``train_sample`` lowest vec_ids, init = the first ``k``
    sample rows, then ``iters`` Lloyd rounds — assignment is argmax
    cosine with lower-centroid-id tie-break (numpy first-max), new
    centroid = normalized member sum, empty clusters keep their old
    centroid. ``kc{iters}`` is the final centroid table, ``kalln``
    the normalized corpus, ``kassign`` the final argmax assignment
    with the floor-pattern 6-dp similarity. Consumed by the
    ``kmeans_embedding_clusters`` and ``ann_topk_ivf`` oracles.
    Cross-engine float freedom (dot/sum order, ~1e-16) only flips an
    assignment on a near-exact cosine tie — not present in these
    fixtures; shared CTEs are MATERIALIZED (inlining is exponential
    in rounds otherwise)."""
    parts = [
        f"""ksamp AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw
      FROM embeddings ORDER BY vec_id LIMIT {train_sample}
    ),
    ktrain AS MATERIALIZED (
      SELECT vec_id,
             row_number() OVER (ORDER BY vec_id) - 1 AS rid,
             list_transform(raw, x -> x / greatest(
               sqrt(list_dot_product(raw, raw)), 1e-300)) AS v
      FROM ksamp
    ),
    kc0 AS MATERIALIZED (
      SELECT rid AS cid, v AS c FROM ktrain WHERE rid < {k}
    )"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""ka{i} AS (
      SELECT t.vec_id, t.v, c.cid,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY list_dot_product(t.v, c.c) DESC, c.cid ASC)
               AS rk
      FROM ktrain t CROSS JOIN kc{p} c
    ),
    ks{i} AS (
      SELECT cid, d, sum(x) AS sx
      FROM (SELECT cid, unnest(v) AS x,
                   unnest(generate_series(1, len(v))) AS d
            FROM ka{i} WHERE rk = 1)
      GROUP BY 1, 2
    ),
    kn{i} AS (
      SELECT cid, list(sx ORDER BY d) AS rawc FROM ks{i} GROUP BY 1
    ),
    kc{i} AS MATERIALIZED (
      SELECT p.cid,
             CASE WHEN n.cid IS NULL THEN p.c
                  ELSE list_transform(n.rawc, x -> x / greatest(
                    sqrt(list_dot_product(n.rawc, n.rawc)), 1e-300))
             END AS c
      FROM kc{p} p LEFT JOIN kn{i} n ON n.cid = p.cid
    )""")
    parts.append(f"""kalln AS MATERIALIZED (
      SELECT vec_id,
             list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> x / greatest(sqrt(list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(embedding, x -> CAST(x AS DOUBLE)))),
                 1e-300)) AS v
      FROM embeddings
    ),
    kassign AS MATERIALIZED (
      SELECT vec_id, cid AS cluster_id,
             floor(sim * 1000000 + 0.5) / 1000000.0 AS centroid_sim
      FROM (
        SELECT a.vec_id, c.cid,
               list_dot_product(a.v, c.c) AS sim,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, c.c) DESC, c.cid ASC)
                 AS rk
        FROM kalln a CROSS JOIN kc{iters} c
      ) WHERE rk = 1
    )""")
    return ",\n    ".join(parts)


def _ann_ivf_oracle(k: int = 5, n_probe: int = 4) -> str:
    # train_sample=4096 — ivf_topk's own default (kmeans_assign uses
    # 2000; both clamp to the corpus at the compare SFs, but the twin
    # must state the operator's actual bound)
    return f"""
    WITH {_kmeans_chain_ctes(train_sample=4096)},
    probes AS (
      SELECT vec_id AS query_id, cid AS list_id FROM (
        SELECT a.vec_id, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_dot_product(a.v, c.c) DESC, c.cid ASC)
                 AS rk
        FROM kalln a CROSS JOIN kc10 c
        WHERE a.vec_id % 100 = 0
      ) WHERE rk <= {n_probe}
    ),
    cand AS (
      SELECT p.query_id, m.vec_id AS neighbor_id
      FROM probes p JOIN kassign m ON m.cluster_id = p.list_id
      WHERE m.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(qa.v, na.v) AS sim
      FROM cand c
      JOIN kalln qa ON qa.vec_id = c.query_id
      JOIN kalln na ON na.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cosine_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


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
    from ..operators.similarity import ivf_topk

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
    from ..operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(emb, queries_df, k=5, m=8, n_codes=32)


def _recall_floor_frame(spark, sf_dir, approx_builder, floor: float, k: int = 5):
    """One-row frame (n_queries, k, recall_floor, floor_met): recall@k
    of ``approx_builder`` vs the exact brute-force baseline. All
    joins are on (query_id, neighbor_id) key pairs — the truth set is
    q×k rows, so every aggregate here is tiny."""
    from ..operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    truth = brute_force_topk(emb, queries_df, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = approx_builder(emb, queries_df).select("query_id", "neighbor_id")
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_hit = (
        truth.join(approx, ["query_id", "neighbor_id"])
        .agg(F.count("*").alias("n_hit"))
    )
    n_q = queries_df.agg(F.count("*").alias("n_queries"))
    return (
        n_q.crossJoin(n_truth)
        .crossJoin(n_hit)
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(k).cast("int").alias("k"),
            F.lit(floor).cast("double").alias("recall_floor"),
            (
                F.col("n_hit").cast("double")
                / F.col("n_truth").cast("double")
                >= F.lit(floor)
            ).alias("floor_met"),
        )
    )


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
    from ..operators.similarity import ivf_topk

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
    from ..operators.similarity import pq_topk

    return _recall_floor_frame(
        spark,
        sf_dir,
        lambda emb, q: pq_topk(emb, q, k=5, m=8, n_codes=32),
        floor=0.3,
    )



@_register(
    "embedding_near_dup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
             AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
    "Embedding-cosine near-dup pairs (exact all-pairs ≥ 0.4; LSH blocking "
    "is the 100 TB path)",
    ("dedup", "similarity", "embeddings"),
)
def embedding_near_dup_pairs_q(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


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
    from ..functions.pandas_aggs import median_udf

    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        (F.round(median_udf("value"), 4) + F.lit(0.0)).alias("median_value")
    )


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


@_register(
    "multimodal_image_features",
    """
    SELECT doc_id AS media_id,
           CAST(16 + (ascii(text[1]) % 64) * 16 AS INTEGER)  AS width,
           CAST(16 + (ascii(text[-1]) % 64) * 16 AS INTEGER) AS height,
           CAST(length(text) AS BIGINT)                      AS n_bytes,
           md5(text)                                         AS checksum
    FROM documents
    """,
    "Multimodal plumbing: binary payload column → Arrow-batched "
    "mapInPandas feature extraction (deterministic stub decoder; the "
    "oracle replays the stub's arithmetic on the source bytes)",
    ("multimodal", "pandas_udf", "documents"),
)
def multimodal_image_features(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    media = synthetic_media_from_documents(d)
    return extract_image_features(media, use_stub_decoder=True)


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

    from ..sources.tables import load_events_stream

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

    from ..sources.tables import load_events_stream

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

    from ..streaming.stateful import debounce

    from ..sources.tables import load_events_stream

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


# ---------------------------------------------------------------------------
# Batch SQL depth: TPC-H-shaped plans over the trimmed star schema
# (no partsupp table in the fixtures; q09/q17 shapes adapted). These
# exercise EXISTS / NOT EXISTS, correlated scalar subqueries,
# nation-pair self-joins, two-level aggregation, disjunctive
# pushdown, ROLLUP, and exact percentiles/statistical aggregates —
# the SQL surface SURVEY §2.4/§2.6/§2.7 commits the engine to.
# ---------------------------------------------------------------------------


@_register(
    "q04_order_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS correlated subquery → left-semi join + "
    "grouped count (reference J-family gap, SURVEY §2.4)",
    ("join", "semi", "tpch"),
)
def q04_order_priority_exists(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_register(
    "q07_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             cast(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                           AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: nation self-joined twice (supplier vs customer "
    "side), disjunctive pair filter, revenue by year — both nation "
    "dims broadcast",
    ("join", "broadcast", "tpch"),
)
def q07_volume_shipping(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    rpair = (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair | rpair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@_register(
    "q09_product_profit",
    """
    SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             cast(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * 0.1 * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
    "TPC-H Q9 shape (partsupp-free: supply cost proxied from "
    "p_retailprice): 5-way join, LIKE pushdown, profit by nation/year",
    ("join", "tpch"),
)
def q09_product_profit(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.1) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 4).alias("sum_profit"))
    )


@_register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    "TPC-H Q13 shape: left join with join-time predicate, two-level "
    "aggregation (count per customer, then histogram of counts)",
    ("join", "agg", "tpch"),
)
def q13_customer_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@_register(
    "q14_promo_revenue",
    """
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) + 0.0
             AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
    "TPC-H Q14 shape: conditional aggregate ratio (promo share of "
    "revenue), broadcast part dim",
    ("agg", "tpch"),
)
def q14_promo_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4) + F.lit(0.0)).alias(
                "promo_revenue"
            )
        )
    )


@_register(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
    "TPC-H Q17 shape: correlated scalar subquery (per-part average "
    "quantity threshold) → per-key avg + rejoin in Spark",
    ("join", "subquery", "tpch"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # correlated scalar subquery decorrelated: one per-part aggregate
    # over the full lineitem, rejoined on the key. At 100 TB the agg
    # shuffles (partkey, 2 doubles) only; the threshold side is tiny
    # after the brand filter and broadcasts.
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.round(F.sum("l_extendedprice") / F.lit(7.0), 4)).alias("avg_yearly"))
    )


@_register(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape: disjunctive multi-attribute predicates across "
    "both join sides — Catalyst pushes the brand/size disjunction to "
    "the part scan",
    ("join", "filter", "tpch"),
)
def q19_disjunctive_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond1 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    cond3 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond1 | cond2 | cond3)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@_register(
    "q22_idle_rich_customers",
    """
    SELECT n_name, count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    """,
    "TPC-H Q22 shape: uncorrelated scalar subquery (global avg "
    "threshold) + NOT EXISTS anti-join (no urgent orders — every "
    "fixture customer has ≥1 order, so the anti side is filtered), "
    "grouped by nation",
    ("join", "anti", "subquery", "tpch"),
)
def q22_idle_rich_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    # scalar subquery: single-row aggregate broadcast by crossJoin —
    # no driver collect, stays a lazy plan
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


@_register(
    "q08_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_5' THEN volume
                          ELSE 0.0 END) / sum(volume), 4) + 0.0
             AS mkt_share
    FROM (
      SELECT cast(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                            AND TIMESTAMP '1996-12-31'
    ) all_nations
    GROUP BY o_year
    """,
    "TPC-H Q8 shape: market share of one supplier nation within a "
    "customer region — 7-way join (nation twice), conditional-agg "
    "ratio per year",
    ("join", "agg", "tpch"),
)
def q08_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share_num = F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (F.round(F.sum(share_num) / F.sum(vol), 4) + F.lit(0.0)).alias(
                "mkt_share"
            )
        )
    )


@_register(
    "q15_top_revenue_suppliers",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "TPC-H Q15 shape: revenue view + uncorrelated scalar max subquery "
    "— the agg reuses one shuffle, the max broadcasts back as a "
    "single-row join",
    ("join", "subquery", "tpch"),
)
def q15_top_revenue_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 9, 14, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    """,
    "TPC-H Q16 shape: NOT IN anti-subquery on the supplier blacklist "
    "+ exact grouped countDistinct (batch path; streaming twin would "
    "use approx_count_distinct)",
    ("join", "anti", "agg", "tpch"),
)
def q16_supplier_part_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin([1, 9, 14, 23, 36, 45])
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "q02_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice * (1 - l_discount) / l_quantity)
               AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           floor(ps_supplycost * 10000 + 0.5) / 10000.0 AS supplycost
    FROM part
    JOIN ps       ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'ECONOMY' AND p_size <= 25 AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT min(ps2.ps_supplycost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    """,
    "TPC-H Q2 shape (partsupp emulated as per-(part,supplier) min "
    "unit cost derived from lineitem — fixture has no partsupp "
    "table): correlated MIN subquery decorrelated into a grouped "
    "min + equality join, dims broadcast",
    ("join", "subquery", "tpch"),
)
def q02_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 25)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # partsupp stand-in: cheapest observed discounted unit price
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            / F.col("l_quantity")
        ).alias("ps_supplycost")
    )
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_eu = ps.join(
        F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    ).localCheckpoint(eager=False)
    min_eu = ps_eu.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        ps_eu.join(
            min_eu,
            (ps_eu["ps_partkey"] == min_eu["ps_partkey"])
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .drop(min_eu["ps_partkey"])
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            # stable HALF_UP in pure IEEE arithmetic — plain round()
            # diverges between engines when the cost lands exactly on
            # a 4-decimal boundary (see _stable_avg4)
            (
                F.floor(F.col("ps_supplycost") * 10000 + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("supplycost"),
        )
    )


@_register(
    "q11_important_stock",
    """
    SELECT l_partkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS part_value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) > (
      SELECT sum(l_extendedprice * (1 - l_discount)) * 0.001
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7')
    """,
    "TPC-H Q11 shape (stock value emulated as discounted revenue per "
    "part over one nation's suppliers): grouped agg + HAVING against "
    "an uncorrelated scalar-subquery threshold — the single-row "
    "total broadcasts back, no second shuffle of the big side",
    ("agg", "subquery", "tpch"),
)
def q11_important_stock(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    supp7 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = (
        li.join(F.broadcast(supp7), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("pv")
        )
        .localCheckpoint(eager=False)
    )
    total = vals.agg(F.sum("pv").alias("total_pv"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("pv") > F.col("total_pv") * 0.001)
        .select("l_partkey", F.round("pv", 4).alias("part_value"))
    )


@_register(
    "q12_late_shipment_priority",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate BETWEEN TIMESTAMP '1997-01-01'
                         AND TIMESTAMP '1997-12-31'
    GROUP BY l_returnflag
    """,
    "TPC-H Q12 shape (l_shipmode/commitdate absent from fixture — "
    "late shipment = shipped >30 days after order, bucketed by "
    "returnflag): join-time interval arithmetic predicate + "
    "conditional-count pivot by order priority",
    ("join", "agg", "tpch"),
)
def q12_late_shipment_priority(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1997-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q20_excess_shippers",
    """
    WITH pq AS (
      SELECT l_suppkey, l_partkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS qty_96,
             sum(l_quantity) AS qty_all
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY 1, 2
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (SELECT l_suppkey FROM pq
                        WHERE qty_96 > 0.3 * qty_all)
    """,
    "TPC-H Q20 shape (availqty emulated: suppliers who shipped >30% "
    "of their all-time quantity of a 'red%' part during 1996): "
    "correlated-agg IN-subquery decorrelated to a grouped ratio "
    "filter + left-semi join; quantity sums are integer-valued so "
    "the ratio compare is engine-exact",
    ("join", "semi", "subquery", "tpch"),
)
def q20_excess_shippers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    in_96 = F.col("l_shipdate").between(
        F.lit("1996-01-01").cast("timestamp"),
        F.lit("1996-12-31 23:59:59").cast("timestamp"),
    )
    excess = (
        li.join(F.broadcast(red_parts), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_96, F.col("l_quantity")).otherwise(0.0)).alias(
                "qty_96"
            ),
            F.sum("l_quantity").alias("qty_all"),
        )
        .filter(F.col("qty_96") > 0.3 * F.col("qty_all"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@_register(
    "q21_waiting_suppliers",
    """
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, count(*) AS numwait
    FROM lines l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM lines l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s_name
    """,
    "TPC-H Q21 shape (late = shipped >60 days after order date; "
    "fixture lacks commit/receipt dates): the hardest TPC-H plan — "
    "EXISTS (another supplier on the order) as a left-semi join plus "
    "NOT EXISTS (another LATE supplier) as a left-anti join, both "
    "with non-equi supplier-inequality conditions; the shared "
    "order-lines frame is lazily checkpointed so the three uses "
    "don't re-shuffle the base join",
    ("join", "semi", "anti", "tpch"),
)
def q21_waiting_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    lines = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
        .localCheckpoint(eager=False)
    )
    l1 = lines.filter(F.col("late"))
    l2 = lines.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@_register(
    "rollup_region_nation_sales",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           cast(grouping(r_name) + grouping(n_name) AS INTEGER)
             AS agg_level,
           count(*) AS order_count,
           round(sum(o_totalprice), 4) AS total_sales
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    "ROLLUP hierarchy (engine addition — SURVEY §2.6 notes the "
    "reference has no grouping sets): region→nation→grand-total in "
    "one pass, GROUPING() distinguishes subtotal rows",
    ("agg", "rollup"),
)
def rollup_region_nation_sales(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name"))
            .cast("int")
            .alias("agg_level"),
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_sales"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "agg_level",
            "order_count",
            "total_sales",
        )
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
    "lineitem_stats_by_flag",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) + 0.0  AS qty_stddev,
           round(var_samp(l_quantity), 4) + 0.0     AS qty_var,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS qty_price_corr
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Statistical aggregates (stddev/variance/correlation) with "
    "partial+final merge — engine addition beyond the reference's "
    "count/sum/avg census (SURVEY §2.6)",
    ("agg", "stats"),
)
def lineitem_stats_by_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.stddev_samp("l_quantity"), 4) + F.lit(0.0)).alias("qty_stddev"),
        (F.round(F.var_samp("l_quantity"), 4) + F.lit(0.0)).alias("qty_var"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
            "qty_price_corr"
        ),
    )


def _winnow_oracle() -> str:
    """DuckDB twin of ``winnow_fingerprints`` (k=5, window=4) + the
    overlap-pair join. The uint64 polynomial hash uses the same
    32-bit-split modular multiply as the minhash oracle; the
    "rightmost minimum of each 4-window" selection is expressed with
    explicit lag/lead neighbor runs: position i is selected iff some
    full window covering i has ≥a sufficient left-run of h≥h_i and
    right-run of h>h_i (L+R window-fit inequality below). Docs with
    fewer than 4 k-grams use the LEFTMOST global minimum, matching
    numpy argmin."""
    mod = "18446744073709551616"

    def modmul(a: str, b: str) -> str:
        return (
            f"((({a}) % 4294967296) * ({b}) + "
            f"((({a}) // 4294967296) * ({b}) % 4294967296) * 4294967296) "
            f"% {mod}"
        )

    h = "cs[i]::HUGEINT"
    for j in range(1, 5):
        h = f"({modmul(h, '1000003')} + cs[i+{j}])"
    return f"""
    WITH docs2 AS (
      SELECT doc_id,
             [unicode(x) FOR x IN string_split(lower(text), '')] AS cs
      FROM documents WHERE len(lower(text)) >= 5
    ),
    pos AS (
      SELECT doc_id, cs, unnest(generate_series(1, len(cs) - 4)) AS i,
             len(cs) - 4 AS n
      FROM docs2
    ),
    hashed AS (
      SELECT doc_id, i, n, {h} % {mod} AS hv FROM pos
    ),
    neigh AS (
      SELECT doc_id, i, n, hv,
             lag(hv, 1) OVER w AS l1, lag(hv, 2) OVER w AS l2,
             lag(hv, 3) OVER w AS l3,
             lead(hv, 1) OVER w AS r1, lead(hv, 2) OVER w AS r2,
             lead(hv, 3) OVER w AS r3,
             row_number() OVER (PARTITION BY doc_id ORDER BY hv, i) AS rmin
      FROM hashed
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    sel AS (
      SELECT doc_id, hv FROM (
        SELECT *,
          CASE WHEN l1 >= hv THEN
            CASE WHEN l2 >= hv THEN
              CASE WHEN l3 >= hv THEN 3 ELSE 2 END ELSE 1 END
          ELSE 0 END AS lrun,
          CASE WHEN r1 > hv THEN
            CASE WHEN r2 > hv THEN
              CASE WHEN r3 > hv THEN 3 ELSE 2 END ELSE 1 END
          ELSE 0 END AS rrun
        FROM neigh
      )
      WHERE (n >= 4
             AND greatest(0, 3 - rrun, i - n + 3) <= least(3, lrun, i - 1))
         OR (n < 4 AND rmin = 1)
    ),
    fps AS (SELECT DISTINCT doc_id, hv FROM sel),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM fps GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS shared_fingerprints
      FROM fps a JOIN fps b
        ON a.hv = b.hv AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_fingerprints,
           floor(shared_fingerprints / least(ca.n, cb.n) * 10000 + 0.5)
             / 10000.0 AS overlap_ratio
    FROM shared
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE floor(shared_fingerprints / least(ca.n, cb.n) * 10000 + 0.5)
            / 10000.0 >= 0.8
    """


@_register(
    "winnow_overlap_pairs",
    _winnow_oracle(),
    "Rolling-hash winnowing fingerprints (MOSS): char-5-gram "
    "polynomial hashes, per-window rightmost minima, containment "
    "ratio shared/min(|A|,|B|) ≥ 0.8 — substring-overlap pairs at "
    "~2/(w+1) fingerprint storage. Pair counting is ADAPTIVE "
    "(operators/dedup.py::fingerprint_overlap_pairs): fingerprint-"
    "index self-join when the universe is 2^64-sized (the 100 TB "
    "path, Σdf² tracks true dup density), blocked binary-matmul "
    "intersection counts when the distinct universe is dense-"
    "indexable (this synthetic corpus: D=834 → posting lists are "
    "corpus-sized and the index join degenerates to 6.4e8 rows; the "
    "matmul path is 9x faster at sf0.1). The DuckDB oracle re-"
    "derives the fingerprints bit-for-bit (emulated uint64 Horner "
    "hash, lag/lead rightmost-window-minimum selection) and must "
    "produce the same pairs and ratios",
    ("dedup", "fingerprint", "documents"),
)
def winnow_overlap_pairs(spark, sf_dir):
    from ..operators.dedup import (
        fingerprint_overlap_pairs,
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, "text", "doc_id").localCheckpoint(
        eager=False
    )
    return fingerprint_overlap_pairs(
        fps, id_col="doc_id", threshold=0.8
    )


@_register(
    "multimodal_audio_features",
    """
    SELECT doc_id AS media_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           strlen(text) AS n_samples,
           strlen(text) * 1000 // 16000 AS duration_ms
    FROM documents
    """,
    "Audio-column plumbing: binary payload → sample-rate/duration "
    "features via Arrow mapInPandas (stub decode: bytes as 8-bit PCM "
    "@16 kHz — deterministic, so SQL-expressible and oracle-checked)",
    ("multimodal", "audio", "documents"),
)
def multimodal_audio_features(spark, sf_dir):
    from ..operators.multimodal import (
        extract_audio_features,
        synthetic_media_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synthetic_media_from_documents(docs)
    return extract_audio_features(media).select(
        "media_id", "sample_rate", "n_samples", "duration_ms"
    )


@_register(
    "multimodal_video_frame_sample",
    """
    SELECT doc_id AS media_id,
           ((strlen(text) + 255) // 256 + 9) // 10 AS n_sampled_frames
    FROM documents
    WHERE strlen(text) > 0
    """,
    "Video frame sampling: payload → every-10th 256-byte frame rows "
    "(executor-local fan-out inside mapInPandas), counted per media "
    "item — count is decoder-independent, so oracle-checked",
    ("multimodal", "video", "documents"),
)
def multimodal_video_frame_sample(spark, sf_dir):
    from ..operators.multimodal import (
        sample_video_frames,
        synthetic_media_from_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    media = synthetic_media_from_documents(docs)
    frames = sample_video_frames(media, every_nth=10, frame_bytes=256)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_sampled_frames")
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
    from ..streaming.stateful import sessionize_batch_oracle

    e = _t(spark, sf_dir, "events")
    out = sessionize_batch_oracle(e, gap="4 hours")
    return out.withColumn("total_value", F.col("total_value") + F.lit(0.0))


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

    from ..streaming.stateful import sessionize

    from ..sources.tables import load_events_stream

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
    "documents_top_tokens",
    """
    SELECT tok, count(*) AS n
    FROM (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
      WHERE length(trim(text)) > 0
    )
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 20
    """,
    "Word count, the explode canon: tokenize → explode → count → "
    "global top-20 (deterministic tie order). Explode fans out "
    "executor-local; the shuffle carries (token, partial count) after "
    "map-side combine",
    ("explode", "agg", "topk", "documents"),
)
def documents_top_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.filter(F.length(F.trim("text")) > 0).select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    return (
        toks.filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


@_register(
    "documents_array_ops",
    """
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(toks, t -> len(t) > 5)) AS INTEGER)
             AS n_long_tokens,
           list_sort(toks)[1:3] AS first3_sorted
    FROM (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
      WHERE length(trim(text)) > 0
    )
    """,
    "Array-function census (HOFs stay JVM-side): split → size / "
    "filter-lambda / sort+slice, mirrored by DuckDB list lambdas — "
    "no explode, no shuffle, pure codegen over the scan",
    ("arrays", "hof", "documents"),
)
def documents_array_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.length(t) > 5)).alias(
            "n_long_tokens"
        ),
        F.slice(F.array_sort(toks), 1, 3).alias("first3_sorted"),
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
    "documents_token_positions",
    """
    SELECT doc_id,
           CAST(unnest(generate_series(0, least(len(toks), 3) - 1))
                AS INTEGER) AS pos,
           unnest(toks[1:3]) AS tok
    FROM (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
      WHERE length(trim(text)) > 0
    )
    """,
    "posexplode (explode with ordinality): first three tokens with "
    "their positions — DuckDB oracle zips parallel unnest with "
    "generate_series (no WITH ORDINALITY in 1.0)",
    ("explode", "arrays", "documents"),
)
def documents_token_positions(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    return d.select(
        "doc_id", F.posexplode(F.slice(toks, 1, 3)).alias("pos", "tok")
    )


@_register(
    "part_string_functions",
    """
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER)
             AS brand_no,
           upper(substr(p_type, 1, 3)) AS type_prefix,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           replace(p_name, ' ', '_') AS name_snake,
           CAST(strpos(p_name, 'widget') AS INTEGER) AS widget_pos,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    """,
    "String-function census beyond the reference's F1-F13: "
    "regexp_extract, substring, lpad, replace-all, instr/strpos, "
    "length — all codegen, no UDFs",
    ("strings", "scalar"),
)
def part_string_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_no"),
        F.upper(F.substring("p_type", 1, 3)).alias("type_prefix"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.instr(F.col("p_name"), "widget").cast("int").alias("widget_pos"),
        F.length("p_name").cast("int").alias("name_len"),
    )


@_register(
    "orders_date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           date_diff('day', o_orderdate,
                     TIMESTAMP '2001-01-01') AS days_to_y2001,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      AND o_orderdate < TIMESTAMP '2000-02-01'
    """,
    "Date arithmetic census (SURVEY §2.5 notes the reference has "
    "none): date_add, trunc-to-month, datediff, day-of-week — all "
    "codegen expressions over the pruned scan",
    ("dates", "scalar"),
)
def orders_date_arithmetic(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-02-01").cast("timestamp"))
    )
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias(
            "order_month"
        ),
        F.datediff(
            F.lit("2001-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("days_to_y2001"),
        F.dayofweek(F.col("o_orderdate")).cast("int").alias("order_dow"),
    )


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
    from ..operators.sampling import deterministic_sample

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
    from ..operators.sampling import train_test_split

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
    from ..operators.sampling import stratified_sample

    e = _t(spark, sf_dir, "events")
    sampled = stratified_sample(
        e,
        "event_type",
        {"click": 0.05, "view": 0.1, "purchase": 1.0},
        key_col="event_id",
    )
    return sampled.groupBy("event_type").agg(F.count("*").alias("n_sampled"))


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
    "tfidf_top_terms",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           round(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 4) AS tfidf,
           CAST(rnk AS INTEGER) AS term_rank
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0)
                        DESC,
                        tf.term) AS rnk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n) s
    WHERE rnk <= 5
    """,
    "TF-IDF top-5 terms per document (smoothed idf = ln((1+N)/(1+df)) "
    "+ 1): token explode → per-doc tf → corpus df (one term-keyed "
    "shuffle, map-side combined) → scalar N broadcast back → "
    "per-doc row_number top-k with deterministic term tie-break",
    ("text", "window", "agg", "documents"),
)
def tfidf_top_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = d.agg(F.count("*").alias("n_docs"))
    # document frequency as a window count over the tf rows — one
    # term-keyed exchange replaces the groupBy + re-shuffled join
    # (3 exchanges total: tf agg, df window, top-k window)
    dfw = F.count("*").over(Window.partitionBy("term"))
    raw = (
        F.col("tf")
        * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_raw").desc(), F.col("term")
    )
    return (
        tf.withColumn("df", dfw)
        .crossJoin(F.broadcast(n))
        .withColumn("_raw", raw)
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 5)
        .select(
            "doc_id",
            "term",
            F.round("_raw", 4).alias("tfidf"),
            F.col("term_rank"),
        )
    )


def _pagerank_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank CTE chain (recursive CTEs
    with aggregation in the recursive member are non-portable; an
    unrolled chain is plain ANSI SQL)."""
    ctes = [
        """edges AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY 1, 2
    )""",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1)",
        """frac AS (SELECT e.src, e.dst, e.w / o.ow AS frac
               FROM edges e JOIN outw o ON o.src = e.src)""",
        """nodes AS (SELECT DISTINCT src AS node FROM edges
               UNION SELECT DISTINCT dst FROM edges)""",
        "pr0 AS (SELECT node, 1.0 AS rank FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""pr{k} AS (
      SELECT n.node,
             {1.0 - damping} + {damping} * coalesce(s.acc, 0.0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT f.dst AS node, sum(p.rank * f.frac) AS acc
        FROM frac f JOIN pr{k - 1} p ON p.node = f.src
        GROUP BY f.dst) s ON s.node = n.node)"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, round(rank, 4) AS rank FROM pr{iterations}"
    )


@_register(
    "nation_trade_pagerank",
    _pagerank_oracle_sql(5),
    "Weighted PageRank (5 fixed iterations, d=0.85) over the "
    "customer-nation → supplier-nation trade graph (edge weight = "
    "lineitem count). Iterative DataFrame algorithm: per-iteration "
    "join+agg with lineage-truncating checkpoints; oracle is the "
    "identical recurrence unrolled as an ANSI CTE chain",
    ("graph", "iterative", "pagerank"),
)
def nation_trade_pagerank(spark, sf_dir):
    from ..operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = pagerank(edges, "src", "dst", "w", iterations=5, damping=0.85)
    return ranks.select("node", F.round("rank", 4).alias("rank"))


@_register(
    "agg_census_argmax",
    """
    SELECT event_type,
           arg_max(event_id, ts) AS last_event_id,
           arg_min(event_id, ts) AS first_event_id,
           bool_and(value > 0.0)  AS all_positive,
           bool_or(value > 300.0) AS any_extreme,
           CAST(count_if(value > 100.0) AS BIGINT) AS n_over_100
    FROM events
    GROUP BY event_type
    """,
    "Aggregate-function census beyond SURVEY §2.6: max_by/min_by "
    "(argmax on the unique ts key — deterministic), bool_and/bool_or, "
    "count_if — all single-shuffle hash aggregates with map-side "
    "partials",
    ("agg", "census", "events"),
)
def agg_census_argmax(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.min_by("event_id", "ts").alias("first_event_id"),
        F.bool_and(F.col("value") > 0.0).alias("all_positive"),
        F.bool_or(F.col("value") > 300.0).alias("any_extreme"),
        F.count_if(F.col("value") > 100.0).alias("n_over_100"),
    )


@_register(
    "lineitem_regression_by_flag",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(covar_samp(l_quantity, l_extendedprice), 4)     AS qty_price_covar,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "ANSI linear-regression aggregates (regr_slope/intercept/count, "
    "covar_samp) per return flag — one pass, partial-aggregable "
    "moment sketches",
    ("agg", "stats", "census"),
)
def lineitem_regression_by_flag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.round(
            F.covar_samp("l_quantity", "l_extendedprice"), 4
        ).alias("qty_price_covar"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
    )


@_register(
    "cube_status_priority_sales",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS INTEGER)   AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_sales
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "CUBE grouping-sets aggregation (all 4 grouping combinations in "
    "one shuffle) with GROUPING() disambiguation of the ALL rows — "
    "completes the rollup/cube/grouping-sets family",
    ("agg", "cube", "tpch"),
)
def cube_status_priority_sales(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_sales"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_sales",
        )
    )


@_register(
    "corpus_clean_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
      WHERE lang = 'en'
    ),
    quality AS (
      SELECT doc_id, text, len(toks) AS n_tokens,
             round(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
                   / greatest(len(toks), 1), 4) AS stop_ratio
      FROM scored
      WHERE len(toks) >= 5
        AND len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
            / greatest(len(toks), 1) <= 0.5
    )
    SELECT min(doc_id) AS doc_id,
           CAST(count(*) AS BIGINT) AS dup_count,
           min(n_tokens) AS n_tokens,
           min(stop_ratio) AS stop_ratio
    FROM quality
    GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    """,
    "End-to-end corpus cleaning for training data: language filter "
    "(stored label) → quality gate (≥5 tokens, stopword ratio ≤ 0.5) "
    "→ exact near-dup collapse on the normalized content hash, "
    "keeping the lowest doc_id. One narrow pipeline then one "
    "hash-keyed shuffle; text never shuffles, only 16-byte hashes",
    ("text", "dedup", "pipeline", "documents"),
)
def corpus_clean_pipeline(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    toks = tokens("text")
    scored = d.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_tokens"),
        F.round(stopword_ratio("text"), 4).alias("stop_ratio"),
    ).filter((F.col("n_tokens") >= 5) & (F.col("stop_ratio") <= 0.5))
    return (
        scored.groupBy(content_fingerprint(F.col("text")).alias("_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_count"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("stop_ratio").alias("stop_ratio"),
        )
        .drop("_h")
    )


@_register(
    "set_ops_all_variants",
    """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union_all' AS op, count(*) AS n FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all', count(*) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all', count(*) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    """,
    "Bag-semantics set operations (UNION/INTERSECT/EXCEPT ALL — "
    "multiplicity-preserving, unlike the distinct variants already "
    "covered): INTERSECT ALL keeps min(multiplicity), EXCEPT ALL "
    "subtracts it",
    ("setops", "census", "tpch"),
)
def set_ops_all_variants(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    def count_of(df, name):
        return df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("op"), "n"
        )
    return (
        count_of(a.unionAll(b), "union_all")
        .unionAll(count_of(a.intersectAll(b), "intersect_all"))
        .unionAll(count_of(a.exceptAll(b), "except_all"))
    )


@_register(
    "null_safe_join_props",
    """
    WITH keyed AS (
      SELECT event_id,
             nullif(CAST(json_extract_string(props, '$.k') AS INTEGER) % 7,
                    3) AS r
      FROM events WHERE event_id < 150
    )
    SELECT e1.event_id AS id_a, e2.event_id AS id_b
    FROM keyed e1 JOIN keyed e2
      ON e1.r IS NOT DISTINCT FROM e2.r AND e1.event_id < e2.event_id
    """,
    "Null-safe equality join (Spark <=> ≡ ANSI IS NOT DISTINCT FROM): "
    "rows with NULL join keys match EACH OTHER instead of vanishing — "
    "the semantics needed when joining on optional attributes "
    "(~1/7 of the derived keys are NULLed via nullif)",
    ("join", "null-safe", "census", "events"),
)
def null_safe_join_props(spark, sf_dir):
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 150)
        .select(
            "event_id",
            F.nullif(
                F.get_json_object("props", "$.k").cast("int") % 7, F.lit(3)
            ).alias("r"),
        )
    )
    e1 = e.select(F.col("event_id").alias("id_a"), F.col("r").alias("r_a"))
    e2 = e.select(F.col("event_id").alias("id_b"), F.col("r").alias("r_b"))
    return (
        e1.join(
            e2,
            e1["r_a"].eqNullSafe(e2["r_b"])
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )


@_register(
    "part_string_census_extended",
    """
    SELECT p_partkey,
           translate(p_name, 'aeiou', '_____') AS devoweled,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           rpad(p_brand, 12, '.') AS padded_brand,
           reverse(p_type) AS type_reversed,
           repeat(left(p_name, 2), 2) AS doubled_prefix
    FROM part WHERE p_partkey < 120
    """,
    "Extended string-function census: translate, lpad/rpad, reverse, "
    "repeat, left — completing the string surface beyond the core "
    "upper/trim/concat/substring census",
    ("string", "census"),
)
def part_string_census_extended(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 120)
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "_____").alias("devoweled"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.rpad("p_brand", 12, ".").alias("padded_brand"),
        F.reverse("p_type").alias("type_reversed"),
        F.repeat(F.substring("p_name", 1, 2), 2).alias("doubled_prefix"),
    )


@_register(
    "documents_array_set_ops",
    """
    WITH t AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_filter(string_split(lower(text), ' '), x -> x <> '')))
               AS toks
      FROM documents WHERE doc_id < 40
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           list_sort(list_intersect(a.toks, b.toks)) AS common_tokens,
           CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER) AS n_common
    FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
    """,
    "Array set-operation census: array_distinct + array_sort + "
    "array_intersect between adjacent documents' token sets — the "
    "array algebra used by set-similarity ops, kept deterministic by "
    "sorting every array output",
    ("array", "census", "documents"),
)
def documents_array_set_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    t = d.select(
        "doc_id",
        F.array_sort(F.array_distinct(tokens("text"))).alias("toks"),
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.array_intersect("toks_a", "toks_b")
    return (
        a.join(b, F.col("id_a") + 1 == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.array_sort(inter).alias("common_tokens"),
            F.size(inter).alias("n_common"),
        )
    )


@_register(
    "user_event_timelines",
    """
    SELECT user_id,
           list(event_type ORDER BY ts, event_id) AS timeline,
           CAST(len(list(event_type ORDER BY ts, event_id)) AS INTEGER)
             AS n_events
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
    "Ordered array aggregation: per-user event-type timeline in "
    "event-time order. Spark's collect_list is arrival-ordered "
    "(nondeterministic under parallelism), so the engine sorts "
    "(ts, event_id, type) structs post-agg and projects — the "
    "deterministic ordered-array idiom; DuckDB's list(x ORDER BY y) "
    "is the oracle",
    ("agg", "array", "census", "events"),
)
def user_event_timelines(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: s["event_type"],
    )
    return e.groupBy("user_id").agg(
        ordered.alias("timeline"),
        F.size(ordered).alias("n_events"),
    )


@_register(
    "part_name_edit_distance_pairs",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND a.p_partkey < 40 AND b.p_partkey < 40
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    "Edit-distance (Levenshtein) near-match pairs on a bounded key "
    "slice — the fuzzy-string tier of dedup, complementing the "
    "token-level Jaccard/MinHash ops; at scale the candidate set "
    "comes from an LSH/blocking pass, never the raw cross join",
    ("text", "similarity", "census"),
)
def part_name_edit_distance_pairs(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 40)
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a")
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
    )
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("edit_dist") <= 3)
        .select("key_a", "key_b", "edit_dist")
    )


@_register(
    "lineitem_quality_report",
    """
    WITH agg AS (
      SELECT CAST(count_if(l_quantity <= 0) AS BIGINT)   AS qty_nonpositive,
             CAST(count_if(l_discount < 0 OR l_discount > 0.1) AS BIGINT)
               AS discount_out_of_range,
             CAST(count_if(l_shipdate IS NULL) AS BIGINT) AS shipdate_null,
             CAST(count_if(l_extendedprice <
                           l_quantity * 0.9) AS BIGINT)   AS price_below_floor,
             count(*) AS total_rows
      FROM lineitem
    )
    SELECT rule, violations, total_rows,
           round(violations * 1.0 / total_rows, 6) AS violation_ratio
    FROM (
      SELECT 'qty_nonpositive' AS rule, qty_nonpositive AS violations,
             total_rows FROM agg
      UNION ALL
      SELECT 'discount_out_of_range', discount_out_of_range, total_rows
      FROM agg
      UNION ALL
      SELECT 'shipdate_null', shipdate_null, total_rows FROM agg
      UNION ALL
      SELECT 'price_below_floor', price_below_floor, total_rows FROM agg)
    """,
    "Data-contract validation: four expectation rules evaluated as "
    "count_if columns of ONE aggregation pass (adding rules adds "
    "columns, not scans), unpivoted to a per-rule violation report "
    "— the ingestion-gate shape of a training-data pipeline",
    ("quality", "agg", "pipeline", "tpch"),
)
def lineitem_quality_report(spark, sf_dir):
    from ..operators.quality import validate

    li = _t(spark, sf_dir, "lineitem")
    return validate(
        li,
        {
            "qty_nonpositive": F.col("l_quantity") <= 0,
            "discount_out_of_range": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.1),
            "shipdate_null": F.col("l_shipdate").isNull(),
            "price_below_floor": F.col("l_extendedprice")
            < F.col("l_quantity") * 0.9,
        },
    )


@_register(
    "lateral_top_orders_per_customer",
    """
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_custkey < 100
    """,
    "LATERAL correlated subquery (top-2 orders per customer with a "
    "deterministic tie-break) — Catalyst decorrelates the per-row "
    "ORDER BY LIMIT into a ranked join, no driver loop; runs "
    "verbatim on the spark.sql surface",
    ("join", "lateral", "sql-surface", "tpch"),
)
def lateral_top_orders_per_customer(spark, sf_dir):
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lat, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_custkey < 100
        """
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
    "window_census_user_events",
    """
    SELECT user_id, event_id,
           round(lag(value)  OVER w, 4) AS prev_value,
           round(lead(value) OVER w, 4) AS next_value,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume,
           round(first_value(value) OVER w, 4) AS first_seen_value
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
    "Analytic-window census beyond rank/row_number: lag/lead, ntile, "
    "percent_rank, cume_dist, first_value over a per-user event-time "
    "ordering ((user_id, ts) is unique, so every function is "
    "deterministic); one hash exchange on the partition key serves "
    "all six functions",
    ("window", "census", "events"),
)
def window_census_user_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.round(F.first("value").over(w), 4).alias("first_seen_value"),
    )


@_register(
    "events_multi_grain_rollup",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
           CAST(date_trunc('day', ts)  AS TIMESTAMP) AS day_bucket,
           coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY GROUPING SETS (
      (date_trunc('hour', ts)),
      (date_trunc('day', ts)),
      (date_trunc('day', ts), event_type)
    )
    """,
    "Hypertable-style multi-resolution rollup: hourly, daily, and "
    "daily-by-type aggregates of one scan via GROUPING SETS — the "
    "continuous-aggregate shape, one shuffle for all three grains "
    "(SQL surface: runs as spark.sql over a registered view)",
    ("agg", "grouping-sets", "sql-surface", "events"),
)
def events_multi_grain_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_mgr")
    return spark.sql(
        """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
               CAST(date_trunc('day', ts)  AS TIMESTAMP) AS day_bucket,
               coalesce(event_type, 'ALL') AS event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events_mgr
        GROUP BY GROUPING SETS (
          (date_trunc('hour', ts)),
          (date_trunc('day', ts)),
          (date_trunc('day', ts), event_type)
        )
        """
    )


@_register(
    "docs_with_embedding_norm",
    """
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS INTEGER) AS n_tokens,
           round(sqrt(list_sum(list_transform(embedding,
                                              x -> CAST(x AS DOUBLE) * x))),
                 4) AS vec_norm
    FROM documents JOIN embeddings ON doc_id = vec_id
    """,
    "Cross-modal join: text table ⋈ embedding table on the shared id "
    "(doc_id = vec_id), emitting token stats + L2 norm — the "
    "text-plus-vector row shape a training pipeline feeds to "
    "curation; norm accumulates left-to-right in double on both "
    "engines",
    ("multimodal", "join", "documents", "embeddings"),
)
def docs_with_embedding_norm(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    vec_norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        d.join(emb, d["doc_id"] == emb["vec_id"])
        .select(
            "doc_id",
            "lang",
            token_count("text").alias("n_tokens"),
            F.round(vec_norm, 4).alias("vec_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data ops, batch 2: PII scrub, repetition quality, domain
# mixing, sequence packing — plus window-frame / higher-order-array /
# unpivot SQL-surface census queries.
# ---------------------------------------------------------------------------


def _stable_ratio6(num, den):
    """Engine-stable 6-decimal ratio of two exact (integer) values:
    one IEEE divide then the floor(x*1e6+0.5) trick — identical on
    Spark and DuckDB regardless of round() implementation."""
    q = num / den
    return F.floor(q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


@_register(
    "pii_redaction_customers",
    r"""
    WITH base AS (
      SELECT c_custkey,
             'Reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
             || '@example.com or '
             || printf('%02d-%03d-%03d-%04d',
                       c_custkey % 90 + 10, (c_custkey * 7) % 1000,
                       (c_custkey * 13) % 1000, (c_custkey * 97) % 10000)
             || ' (ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.7)'
             AS note
      FROM customer
    )
    SELECT c_custkey,
           md5('pii-v1' || CAST(c_custkey AS VARCHAR)) AS pseudonym,
           regexp_replace(regexp_replace(regexp_replace(note,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{2,3}[-.]\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS note_clean
    FROM base
    """,
    "PII redaction: email/phone/IPv4 scrubbed from free text by a "
    "regexp_replace chain (scan-local codegen, no shuffle) plus "
    "key-stable md5 pseudonymization. Contact strings are synthesized "
    "deterministically from c_custkey on both engines, then scrubbed — "
    "the redaction path itself is what's under test",
    ("text", "pii", "training"),
)
def pii_redaction_customers(spark, sf_dir):
    from ..functions.text import pii_scrub

    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    note = F.concat(
        F.lit("Reach "),
        F.col("c_name"),
        F.lit(" at user"),
        key.cast("string"),
        F.lit("@example.com or "),
        F.format_string(
            "%02d-%03d-%03d-%04d",
            key % 90 + 10,
            (key * 7) % 1000,
            (key * 13) % 1000,
            (key * 97) % 10000,
        ),
        F.lit(" (ip 10.0."),
        (key % 256).cast("string"),
        F.lit(".7)"),
    )
    return c.select(
        "c_custkey",
        F.md5(
            F.concat(F.lit("pii-v1"), key.cast("string")).cast("binary")
        ).alias("pseudonym"),
        pii_scrub(note).alias("note_clean"),
    )


@_register(
    "repetition_quality_documents",
    """
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    uni AS (
      SELECT doc_id, lang, tok, count(*) AS c
      FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)
      GROUP BY doc_id, lang, tok
    ),
    u AS (
      SELECT doc_id, lang, sum(c) AS total, count(*) AS dist, max(c) AS mx
      FROM uni GROUP BY doc_id, lang
    ),
    bt AS (
      SELECT doc_id,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1]) AS bgs
      FROM t
    ),
    bi AS (
      SELECT doc_id, bg, count(*) AS c
      FROM (SELECT doc_id, unnest(bgs) AS bg FROM bt)
      GROUP BY doc_id, bg
    ),
    b AS (SELECT doc_id, sum(c) AS total_bi, max(c) AS mx_bi FROM bi GROUP BY doc_id)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(total) AS BIGINT) AS total_tokens,
           CAST(sum(dist) AS BIGINT) AS distinct_tokens,
           floor((1.0 - sum(dist) * 1.0 / sum(total)) * 1000000 + 0.5)
             / 1000000.0 AS dup_token_frac,
           floor(sum(mx) * 1.0 / sum(total) * 1000000 + 0.5)
             / 1000000.0 AS top_token_frac,
           floor(sum(mx_bi) * 1.0 / greatest(sum(total_bi), 1) * 1000000 + 0.5)
             / 1000000.0 AS top_bigram_frac
    FROM u LEFT JOIN b USING (doc_id)
    GROUP BY lang
    """,
    "Gopher-style repetition quality signals: per-doc duplicate-token "
    "fraction, top-token fraction, top-bigram fraction, aggregated per "
    "language from exact integer sums (engine-stable ratios). The "
    "explode/groupBy shape is a map-side-combinable shuffle keyed by "
    "(doc_id, token) — scales linearly, no skew (doc_id spreads keys)",
    ("text", "quality", "training", "documents"),
)
def repetition_quality_documents(spark, sf_dir):
    # Per-doc stats (total, distinct, max-multiplicity) are computed
    # entirely inside the row with higher-order functions over the sorted
    # token array — zero (doc_id, token) shuffles. The old shape exploded
    # every token twice and shuffled them through two hash aggregations;
    # at 100 TB that shuffle is #tokens-sized. This shape's only exchange
    # is the final tiny groupBy(lang).
    d = _t(spark, sf_dir, "documents")

    def max_multiplicity(arr):
        srt = F.array_sort(arr)
        zero = F.lit(0).cast("long")
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("best"),
        )

        def step(acc, x):
            run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
            )

        return F.aggregate(srt, init, step, lambda acc: acc.best)

    base = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    n = F.size(F.col("toks"))
    bigrams = F.zip_with(
        F.slice(F.col("toks"), 1, F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("toks"), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # Docs with zero tokens contribute no rows (parity with the oracle's
    # unnest, which emits nothing for an empty list).
    per_doc = base.filter(n > 0).select(
        "lang",
        n.cast("long").alias("total"),
        F.size(F.array_distinct(F.col("toks"))).cast("long").alias("dist"),
        max_multiplicity(F.col("toks")).alias("mx"),
        F.greatest(n - 1, F.lit(0)).cast("long").alias("total_bi"),
        max_multiplicity(bigrams).alias("mx_bi"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("total").alias("total_tokens"),
        F.sum("dist").alias("distinct_tokens"),
        _stable_ratio6(
            F.lit(1.0) - F.sum("dist") * F.lit(1.0) / F.sum("total"), F.lit(1.0)
        ).alias("dup_token_frac"),
        _stable_ratio6(F.sum("mx") * F.lit(1.0), F.sum("total")).alias(
            "top_token_frac"
        ),
        _stable_ratio6(
            F.sum("mx_bi") * F.lit(1.0), F.greatest(F.sum("total_bi"), F.lit(1))
        ).alias("top_bigram_frac"),
    )


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
    from ..operators.sampling import mixture_reweight

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
    "higher_order_array_census",
    """
    WITH a AS (
      SELECT user_id, list_sort(list(value)) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS INTEGER) AS n_events,
           floor(list_sum(list_transform(vals, x -> x * 2)) * 10000 + 0.5)
             / 10000.0 AS doubled_sum,
           CAST(len(list_filter(vals, x -> x > 50.0)) AS INTEGER) AS n_above_50,
           len(list_filter(vals, x -> x > 95.0)) > 0 AS has_above_95,
           floor(list_sum(list_transform(range(1, len(vals) + 1),
                          i -> vals[i] * vals[len(vals) + 1 - i]))
                 * 10000 + 0.5) / 10000.0 AS dot_reversed
    FROM a
    """,
    "Higher-order array function census: transform/filter/exists/"
    "zip_with/aggregate over per-user sorted value arrays — lambdas "
    "run inside codegen (no Python), summation order pinned by the "
    "sort so double results are engine-stable",
    ("functions", "arrays", "events"),
)
def higher_order_array_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list("value")).alias("vals")
    )
    stable4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    doubled = F.aggregate(
        F.transform(F.col("vals"), lambda x: x * 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot_rev = F.aggregate(
        F.zip_with(F.col("vals"), F.reverse(F.col("vals")), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return a.select(
        "user_id",
        F.size("vals").alias("n_events"),
        stable4(doubled).alias("doubled_sum"),
        F.size(F.filter(F.col("vals"), lambda x: x > 50.0)).alias("n_above_50"),
        F.exists(F.col("vals"), lambda x: x > 95.0).alias("has_above_95"),
        stable4(dot_rev).alias("dot_reversed"),
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


@_register(
    "try_cast_census",
    """
    WITH s AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 5 AS INTEGER) AS case_id,
             CASE o_orderkey % 5
               WHEN 0 THEN CAST(o_orderkey AS VARCHAR)
               WHEN 1 THEN ' 42 '
               WHEN 2 THEN '-7'
               WHEN 3 THEN 'n/a'
               ELSE '' END AS raw,
             CASE o_orderkey % 3
               WHEN 0 THEN '2024-02-29'
               WHEN 1 THEN '2024-02-30'
               ELSE '2024-13-01' END AS raw_date
      FROM orders
    )
    SELECT case_id,
           count(*) AS n_rows,
           count(TRY_CAST(raw AS BIGINT)) AS n_int_ok,
           count(TRY_CAST(raw AS DOUBLE)) AS n_double_ok,
           count(TRY_CAST(raw_date AS DATE)) AS n_date_ok
    FROM s GROUP BY case_id
    """,
    "Safe-parsing census: try_cast of messy strings to BIGINT/DOUBLE/"
    "DATE returns NULL instead of failing the job — the ingestion "
    "posture for dirty 100 TB corpora (one bad cell must not kill a "
    "stage). Inputs synthesized deterministically per key on both "
    "engines; cases chosen where ANSI and DuckDB semantics agree",
    ("functions", "ingestion", "quality"),
)
def try_cast_census(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    raw = (
        F.when(key % 5 == 0, key.cast("string"))
        .when(key % 5 == 1, F.lit(" 42 "))
        .when(key % 5 == 2, F.lit("-7"))
        .when(key % 5 == 3, F.lit("n/a"))
        .otherwise(F.lit(""))
    )
    raw_date = (
        F.when(key % 3 == 0, F.lit("2024-02-29"))
        .when(key % 3 == 1, F.lit("2024-02-30"))
        .otherwise(F.lit("2024-13-01"))
    )
    s = o.select(
        (key % 5).cast("int").alias("case_id"),
        raw.alias("raw"),
        raw_date.alias("raw_date"),
    )
    return s.groupBy("case_id").agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("raw").try_cast("bigint")).alias("n_int_ok"),
        F.count(F.col("raw").try_cast("double")).alias("n_double_ok"),
        F.count(F.col("raw_date").try_cast("date")).alias("n_date_ok"),
    )


@_register(
    "map_functions_census",
    """
    WITH hc AS (
      SELECT event_type, CAST(hour(ts) AS INTEGER) AS h, count(*) AS c
      FROM events GROUP BY event_type, h
    )
    SELECT event_type,
           CAST(count(*) AS INTEGER) AS n_hours,
           CAST(max(CASE WHEN h = 12 THEN c END) AS BIGINT) AS midday_cnt,
           list_sort(list(h)) AS hours,
           CAST(sum(c) AS BIGINT) AS total_events
    FROM hc GROUP BY event_type
    """,
    "MapType census: map_from_entries over sorted (hour,count) "
    "entries, element_at lookup, map_keys, and a map_values fold — "
    "the oracle computes the same facts relationally, proving the map "
    "layer adds no semantic drift",
    ("functions", "maps", "events"),
)
def map_functions_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hc = (
        e.groupBy("event_type", F.hour("ts").cast("int").alias("h"))
        .agg(F.count("*").alias("c"))
    )
    m = hc.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("h", "c")))
        ).alias("m")
    )
    total = F.aggregate(
        F.map_values(F.col("m")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return m.select(
        "event_type",
        F.size("m").alias("n_hours"),
        F.element_at(F.col("m"), F.lit(12)).alias("midday_cnt"),
        F.array_sort(F.map_keys("m")).alias("hours"),
        total.alias("total_events"),
    )


@_register(
    "url_parse_census",
    """
    WITH u AS (
      SELECT doc_id, lang,
             'https://' || source || '.example.com/docs/'
             || CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&v=2' AS url
      FROM documents
    )
    SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           count(*) AS n_docs,
           count(CASE WHEN regexp_extract(url, 'lang=([a-z]+)', 1) = 'en'
                      THEN 1 END) AS n_en,
           min(regexp_extract(url, 'https://[^/]+(/[^?]*)', 1)) AS first_path
    FROM u GROUP BY host
    """,
    "URL structure extraction: parse_url(HOST/PATH/QUERY:key) over "
    "deterministically synthesized URLs vs a pure-regex oracle — the "
    "web-corpus provenance op (domain grouping, query-param filters), "
    "scan-local codegen",
    ("functions", "text", "documents"),
)
def url_parse_census(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&v=2"),
    )
    u = d.select(url.alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    q_lang = F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang"))
    return u.groupBy(host.alias("host")).agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(q_lang == "en", F.lit(1))).alias("n_en"),
        F.min(path).alias("first_path"),
    )


@_register(
    "contamination_ngram_overlap",
    """
    WITH toks AS (SELECT doc_id, source,
                         string_split(lower(text), ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, source,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS g
      FROM (SELECT doc_id, source, w,
                   unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i
            FROM toks)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
    corp AS (SELECT doc_id, g FROM grams WHERE source <> 'src0'),
    total AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
    hit AS (
      SELECT c.doc_id, count(*) AS n_overlap
      FROM corp c JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_grams,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           floor(COALESCE(h.n_overlap, 0) * 1.0 / t.n_grams * 1000000 + 0.5)
             / 1000000.0 AS contam_frac
    FROM total t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
    "Train/test contamination check: fraction of each corpus doc's "
    "distinct 5-gram shingles that appear anywhere in a benchmark set "
    "(source='src0' stands in). Shape = distinct-shingle explode + "
    "semi-join on the gram hash — the benchmark side is the small "
    "relation, so at 100 TB it broadcasts (or bucket-joins) while the "
    "corpus side streams through one shuffle-free scan per gram",
    ("dedup", "contamination", "training", "documents"),
)
def contamination_ngram_overlap(spark, sf_dir):
    from ..functions.text import word_ngrams

    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", "source", F.explode(word_ngrams(F.col("text"), 5)).alias("g")
    )
    bench = grams.filter(F.col("source") == "src0").select("g").distinct()
    corp = grams.filter(F.col("source") != "src0").select("doc_id", "g")
    total = corp.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hit = (
        corp.join(bench, on="g", how="leftsemi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    out = total.join(hit, on="doc_id", how="left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        _stable_ratio6(
            F.coalesce(F.col("n_overlap"), F.lit(0)) * F.lit(1.0),
            F.col("n_grams"),
        ).alias("contam_frac"),
    )
    return out


@_register(
    "char_entropy_documents",
    """
    WITH chars AS (
      SELECT doc_id, c, count(*) AS n
      FROM (SELECT doc_id, unnest(string_split(lower(text), '')) AS c
            FROM documents)
      WHERE c <> ''
      GROUP BY doc_id, c
    ),
    tot AS (SELECT doc_id, sum(n) AS total FROM chars GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(t.total AS BIGINT) AS n_chars_counted,
           floor(-sum((n * 1.0 / t.total) * log2(n * 1.0 / t.total))
                 * 1000000 + 0.5) / 1000000.0 AS char_entropy
    FROM chars c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id, t.total
    """,
    "Perplexity-proxy quality signal: per-document character unigram "
    "entropy (low entropy = repetitive/degenerate text, a standard "
    "pre-training filter). Explode-to-chars + two grouped aggs, keys "
    "spread by doc_id so no skew; -Σ p·log2 p folded in one agg",
    ("text", "quality", "training", "documents"),
)
def char_entropy_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    chars = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n"))
    )
    tot = chars.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") * F.lit(1.0) / F.col("total")
    return (
        chars.join(tot, on="doc_id")
        .groupBy("doc_id", "total")
        .agg(
            _stable_ratio6(-F.sum(p * F.log2(p)), F.lit(1.0)).alias(
                "char_entropy"
            )
        )
        .select(
            "doc_id",
            F.col("total").cast("bigint").alias("n_chars_counted"),
            "char_entropy",
        )
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


@_register(
    "nation_trade_triangles",
    """
    WITH trade AS (
      SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                      greatest(c.c_nationkey, s.s_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    )
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM trade) AS n_edges
    FROM trade e1
    JOIN trade e2 ON e1.b = e2.a
    JOIN trade e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    "Triangle counting on the undirected nation trade graph "
    "(canonical a<b<c edge-ordering join — each triangle counted "
    "once). The standard distributed algorithm: orient edges by "
    "degree/id so the 3-way self-join's intermediate is bounded; "
    "completes the graph trio with pagerank and connected components",
    ("graph", "join"),
)
def nation_trade_triangles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    trade = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(c["c_nationkey"] != s["s_nationkey"])
        .select(
            F.least(c["c_nationkey"], s["s_nationkey"]).alias("a"),
            F.greatest(c["c_nationkey"], s["s_nationkey"]).alias("b"),
        )
        .distinct()
    )
    e1 = trade.alias("e1")
    e2 = trade.alias("e2")
    e3 = trade.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return tri.crossJoin(
        trade.agg(F.count("*").alias("n_edges"))
    )


# ---------------------------------------------------------------------------
# Modern SQL surface census: VARIANT, XML, listagg, recursive CTE, pipe syntax
# ---------------------------------------------------------------------------

@_register(
    "variant_json_census",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(user_id) AS BIGINT) AS sum_u
    FROM events
    GROUP BY event_type
    """,
    "Semi-structured VARIANT ingestion (Spark 4): parse_json the "
    "props payload into an open-schema VARIANT and variant_get typed "
    "paths — schema-on-read without a fixed from_json StructType, the "
    "posture for heterogeneous web-corpus metadata. Oracle is DuckDB "
    "json_extract over the same strings",
    ("sql-surface", "variant", "json", "events"),
)
def variant_json_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # round-trip a second, synthesized JSON document through VARIANT so
    # both a stored payload and a constructed one exercise the codec
    synth = F.parse_json(
        F.concat(
            F.lit('{"u":'),
            F.col("user_id").cast("string"),
            F.lit(',"t":"'),
            F.col("event_type"),
            F.lit('"}'),
        )
    )
    return (
        e.select(
            F.variant_get(synth, "$.t", "string").alias("event_type"),
            F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
            F.variant_get(synth, "$.u", "long").alias("u"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum("u").alias("sum_u"),
        )
    )


@_register(
    "xml_events_census",
    """
    SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_u
    FROM events
    GROUP BY event_type
    """,
    "XML ingestion (Spark 4 from_xml): serialize each event to an XML "
    "fragment, parse it back with a declared schema, and aggregate the "
    "extracted fields — parity proven against the pre-serialization "
    "columns via the relational oracle",
    ("sql-surface", "xml", "events"),
)
def xml_events_census(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><u>"),
        F.col("user_id").cast("string"),
        F.lit("</u><t>"),
        F.col("event_type"),
        F.lit("</t></e>"),
    )
    parsed = F.from_xml(xml, "u BIGINT, t STRING")
    return (
        e.select(parsed.alias("p"))
        .select(F.col("p.t").alias("event_type"), F.col("p.u").alias("u"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("u").alias("sum_u"))
    )


@_register(
    "listagg_region_nations",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           count(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    "Ordered string aggregation: ANSI listagg(...) WITHIN GROUP "
    "(ORDER BY ...) (Spark 4) vs DuckDB ordered string_agg — "
    "deterministic concatenation independent of shuffle arrival order",
    ("sql-surface", "agg"),
)
def listagg_region_nations(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
               count(*) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@_register(
    "recursive_weekly_orders",
    """
    WITH RECURSIVE weeks(n) AS (
      SELECT 0
      UNION ALL
      SELECT n + 1 FROM weeks WHERE n < 25
    )
    SELECT CAST(DATE '1995-01-01' + n * 7 AS DATE) AS week_start,
           count(o.o_orderkey) AS n_orders
    FROM weeks w
    LEFT JOIN orders o
      ON o.o_orderdate >= CAST(DATE '1995-01-01' + w.n * 7 AS TIMESTAMP)
     AND o.o_orderdate <  CAST(DATE '1995-01-01' + (w.n + 1) * 7 AS TIMESTAMP)
    GROUP BY 1
    """,
    "Recursive CTE (Spark 4 WITH RECURSIVE): generate a 26-week "
    "calendar ladder by recursion and left-join order counts per week "
    "— zero-order weeks preserved. The recursion runs in BOTH engines "
    "(Spark executes its own recursive union; DuckDB runs the "
    "equivalent fixpoint)",
    ("sql-surface", "recursive-cte", "join"),
)
def recursive_weekly_orders(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE weeks(n) AS (
          SELECT 0
          UNION ALL
          SELECT n + 1 FROM weeks WHERE n < 25
        )
        SELECT date_add(DATE '1995-01-01', n * 7) AS week_start,
               count(o.o_orderkey) AS n_orders
        FROM weeks w
        LEFT JOIN orders o
          ON o.o_orderdate >= CAST(date_add(DATE '1995-01-01', w.n * 7) AS TIMESTAMP)
         AND o.o_orderdate <  CAST(date_add(DATE '1995-01-01', (w.n + 1) * 7) AS TIMESTAMP)
        GROUP BY 1
        """
    )


@_register(
    "pipe_syntax_priority_stats",
    """
    SELECT o_orderpriority,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_bucket,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY 1, 2
    """,
    "SQL pipe syntax (Spark 4 |> operators): WHERE → EXTEND → "
    "AGGREGATE GROUP BY expressed as a linear pipeline; compiles to "
    "the identical Catalyst plan as the nested-SELECT oracle",
    ("sql-surface", "pipe-syntax", "agg"),
)
def pipe_syntax_priority_stats(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |> EXTEND CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_bucket
        |> AGGREGATE count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price
           GROUP BY o_orderpriority, size_bucket
        """
    )


# ---------------------------------------------------------------------------
# Dedup extensions: corpus-level duplication tagging + canonical selection
# ---------------------------------------------------------------------------

@_register(
    "dup_ngram_fraction_documents",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i
            FROM toks)
    ),
    gd AS (SELECT g, count(*) AS nd FROM grams GROUP BY 1)
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
           floor(sum(CASE WHEN gd.nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*) * 10000 + 0.5) / 10000.0 AS dup_frac
    FROM grams g JOIN gd ON gd.g = g.g
    GROUP BY g.doc_id
    """,
    "Corpus-duplication tagging (Dolma/Gopher-style): per-document "
    "fraction of distinct 5-gram shingles that also occur in another "
    "document. Shingles hash to 64-bit keys in one Arrow pass so the "
    "gram shuffle carries (long,long) rows, never text; two bounded "
    "shuffles (by gram, then by doc)",
    ("dedup", "quality", "documents"),
)
def dup_ngram_fraction_documents(spark, sf_dir):
    from ..functions.text import shingle_rows

    d = _t(spark, sf_dir, "documents")
    # grams feeds both the df histogram and the re-join — checkpoint
    # so the Arrow shingle pass evaluates once, not per branch
    grams = shingle_rows(d, "doc_id", "text", 5).localCheckpoint(
        eager=False
    )
    gram_docs = grams.groupBy("gram").agg(F.count("*").alias("nd"))
    joined = grams.join(gram_docs, "gram")
    dup = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        joined.groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_grams"),
            dup.cast("bigint").alias("dup_grams"),
        )
        .withColumn(
            "dup_frac",
            F.floor(F.col("dup_grams") * 1.0 / F.col("n_grams") * 10000 + F.lit(0.5))
            / F.lit(10000.0),
        )
    )


@_register(
    "dedup_keep_best_documents",
    """
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM toks)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) inter
      JOIN cnt ca ON ca.doc_id = id_a
      JOIN cnt cb ON cb.doc_id = id_b
      WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    ),
    labels AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
    clustered AS (
      SELECT d.doc_id, d.n_chars, coalesce(l.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
    ),
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM clustered
    )
    SELECT cluster_id, doc_id AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_chars, cluster_size
    FROM ranked WHERE rn = 1
    """,
    "Canonical-document selection: near-dup clusters (3-gram Jaccard "
    ">= 0.2 -> connected components) keep ONE representative each — "
    "the longest document, ties to the smallest doc_id (max_by over a "
    "sort-key struct, single shuffle). Singleton docs form their own "
    "cluster. This is the decision step a dedup pipeline runs after "
    "clustering: which row survives. Pair graph served from the "
    "materialized shared mining leg (_ngram_pair_leg)",
    ("dedup", "clustering", "documents"),
)
def dedup_keep_best_documents(spark, sf_dir):
    from ..operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pair_leg(spark, sf_dir)
    labels = connected_components(pairs, "id_a", "id_b")
    clustered = (
        d.select("doc_id", "n_chars")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return clustered.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("kept_doc_id"),
        F.max("n_chars").cast("bigint").alias("kept_chars"),
        F.count("*").alias("cluster_size"),
    )


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
    "aggregate companion hll_type_error_bound (registry55) predates "
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
    from ..operators.similarity import quantize_int8

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
    from ..operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    return quantized_topk(emb, queries_df, k=5)


_PARA_W = 10  # tokens per "paragraph" (synthetic docs have no newlines)


@_register(
    "dedup_paragraphs_documents",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    e AS (
      SELECT doc_id, ci,
             array_to_string(
               list_slice(w, ci * {_PARA_W} + 1, ci * {_PARA_W} + {_PARA_W}),
               ' ') AS para
      FROM t,
           UNNEST(generate_series(
             0, CAST(ceil(len(w) / {_PARA_W}.0) AS INT) - 1)) AS g(ci)
    ),
    own AS (SELECT para, min(doc_id) AS first_doc FROM e GROUP BY para)
    SELECT e.doc_id,
           CAST(count(*) AS INTEGER) AS n_paras,
           CAST(count(*) FILTER (WHERE o.first_doc < e.doc_id) AS INTEGER)
             AS n_dup_paras,
           floor(count(*) FILTER (WHERE o.first_doc < e.doc_id) * 1.0
                 / count(*) * 1e4 + 0.5) / 1e4 AS dup_frac
    FROM e JOIN own o USING (para)
    GROUP BY e.doc_id
    """,
    "Paragraph-level exact dedup (Dolma/CCNet granularity): chunk "
    "each document into fixed 10-token paragraphs, attribute every "
    "paragraph to its first-seen document (min doc_id over the "
    "corpus), and tag each doc with its duplicated-paragraph count "
    "and fraction — the remove-duplicated-paragraphs-not-whole-docs "
    "policy. Shuffle key is the paragraph hash (uniform), never the "
    "doc id; paragraphs are built scan-locally by array slicing "
    "(zero Python)",
    ("dedup", "paragraphs", "documents"),
)
def dedup_paragraphs_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    toks = d.select(
        "doc_id",
        w.alias("w"),
        F.ceil(F.size(w) / _PARA_W).cast("int").alias("n_chunks"),
    )
    paras = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_chunks") - 1)
        ).alias("ci"),
        "w",
    ).select(
        "doc_id",
        F.array_join(
            F.slice("w", F.col("ci") * _PARA_W + 1, _PARA_W), " "
        ).alias("para"),
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("para"))
    tagged = paras.withColumn("_dup", (first_doc < F.col("doc_id")).cast("int"))
    return tagged.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_paras"),
        F.sum("_dup").cast("int").alias("n_dup_paras"),
        (
            F.floor(F.sum("_dup") / F.count("*") * 1e4 + F.lit(0.5)) / 1e4
        ).alias("dup_frac"),
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
    from ..operators.sampling import reservoir_per_group

    s = _t(spark, sf_dir, "supplier")
    return reservoir_per_group(
        s, "s_nationkey", 3, "s_suppkey", salt=_RES_SALT
    ).select("s_nationkey", "s_suppkey", "s_name")


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


# ---------------------------------------------------------------------------
# Robust statistics: winsorization bounds + fixed-bin histogram
# ---------------------------------------------------------------------------

@_register(
    "winsorize_bounds_lineitem",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           floor(b.p05 * 1e4 + 0.5) / 1e4 AS p05,
           floor(b.p95 * 1e4 + 0.5) / 1e4 AS p95,
           CAST(count(*) FILTER (WHERE l.l_extendedprice < b.p05) AS BIGINT)
             AS n_below,
           CAST(count(*) FILTER (WHERE l.l_extendedprice > b.p95) AS BIGINT)
             AS n_above
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.p05, b.p95
    """,
    "Winsorization audit: exact interpolated p05/p95 per return flag "
    "(Spark percentile ≡ DuckDB quantile_cont) re-joined as broadcast "
    "clamp bounds, counting the rows each tail would clip — the "
    "outlier-robust preprocessing step for value-weighted training "
    "signals. The bounds table is k rows (broadcast); the clamp pass "
    "is scan-local",
    ("statistics", "winsorize", "lineitem"),
)
def winsorize_bounds_lineitem(spark, sf_dir):
    from ..operators.scale import spread_for_compute

    # exact-percentile partials buffer every value inside the scan
    # stage — single-task on the one-row-group fixture; spread the
    # 2-column projection so both the bounds leg and the clamp pass
    # build on all cores (no-op on a multi-split scan)
    li = spread_for_compute(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
    )
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(F.col("l_extendedprice") < F.col("p05"), 1)
            ).alias("n_below"),
            F.count(
                F.when(F.col("l_extendedprice") > F.col("p95"), 1)
            ).alias("n_above"),
        )
        .select(
            "l_returnflag",
            "n",
            (F.floor(F.col("p05") * 1e4 + F.lit(0.5)) / 1e4).alias("p05"),
            (F.floor(F.col("p95") * 1e4 + F.lit(0.5)) / 1e4).alias("p95"),
            "n_below",
            "n_above",
        )
    )


@_register(
    "events_value_histogram",
    """
    WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
    SELECT CAST(least(floor((e.value - s.lo) / ((s.hi - s.lo) / 20)), 19)
                AS INTEGER) AS bin,
           floor((s.lo + least(floor((e.value - s.lo) / ((s.hi - s.lo) / 20)),
                               19) * ((s.hi - s.lo) / 20)) * 1e4 + 0.5) / 1e4
             AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e CROSS JOIN s
    GROUP BY 1, 2
    """,
    "Fixed-width 20-bin histogram with data-derived range: one tiny "
    "min/max aggregate broadcast back onto the scan, then scan-local "
    "binning (identical IEEE arithmetic on both engines makes bin "
    "assignment bit-deterministic) — the sketch for distribution "
    "drift monitoring over training-data batches",
    ("statistics", "histogram", "events"),
)
def events_value_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    s = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20
    bin_col = F.least(
        F.floor((F.col("value") - F.col("lo")) / width), F.lit(19)
    )
    return (
        e.crossJoin(F.broadcast(s))
        .select(
            bin_col.cast("int").alias("bin"),
            (
                F.floor(
                    (F.col("lo") + bin_col * width) * 1e4 + F.lit(0.5)
                )
                / 1e4
            ).alias("bin_lo"),
        )
        .groupBy("bin", "bin_lo")
        .agg(F.count("*").alias("n_events"))
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
    "udtf_trigram_documents",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, CAST(g.ci AS INTEGER) AS pos,
           array_to_string(list_slice(w, g.ci + 1, g.ci + 3), ' ') AS ngram
    FROM t, UNNEST(generate_series(0, len(w) - 3)) AS g(ci)
    """,
    "Python UDTF surface (Spark 4): a table function expanding each "
    "document into positioned trigrams, LATERAL-joined per row — the "
    "one-row-to-many-rows shape (§2.11) that scalar/agg UDFs can't "
    "express. Arrow-optimized (useArrow=True) so rows cross the "
    "Python boundary in batches, not one at a time — the catalog's "
    "no-BatchEvalPython contract (tests/test_plan_lint.py) holds "
    "for the UDTF surface too. The class is defined inside the "
    "builder so cloudpickle ships it by value to workers. Oracle "
    "replays the expansion with DuckDB lateral UNNEST + list_slice",
    ("udf", "udtf", "documents"),
)
def udtf_trigram_documents(spark, sf_dir):
    from pyspark.sql.functions import udtf

    from ..sources.tables import register_views

    @udtf(returnType="pos int, ngram string", useArrow=True)
    class Trigrams:
        def eval(self, text: str):
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(len(toks) - 2):
                yield i, " ".join(toks[i : i + 3])

    register_views(spark, sf_dir)
    spark.udtf.register("trigrams_udtf", Trigrams)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.ngram
        FROM documents d, LATERAL trigrams_udtf(d.text) t
        WHERE d.doc_id < 50
        """
    )


# ---------------------------------------------------------------------------
# Retrieval: BM25 ranking + inverted index
# ---------------------------------------------------------------------------

_BM25_QUERY = ("join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


@_register(
    "bm25_search_documents",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
    stats AS (
      SELECT avg(dlen) AS avgdl, count(*) AS n_docs FROM dl
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM toks
      WHERE w IN {_BM25_QUERY!r}
      GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc_id,
             sum(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dlen / s.avgdl))
             ) AS score,
             CAST(count(*) AS INTEGER) AS n_terms
      FROM tf
      JOIN df USING (w)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, floor(score * 1e4 + 0.5) / 1e4 AS score, n_terms
    FROM scored
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    "BM25 full-text ranking (Lucene idf variant, k1=1.2 b=0.75) for "
    "a fixed query against the whole corpus: tf/df/doc-length built "
    "as three aggregates over one tokenized scan, the tiny df and "
    "avgdl tables broadcast back, top-20 by score. The retrieval "
    "primitive for training-data curation (query-relevant corpus "
    "slices); arithmetic evaluated in the same IEEE order on both "
    "engines",
    ("retrieval", "bm25", "documents"),
)
def bm25_search_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    stats = dl.agg(
        F.avg("dlen").alias("avgdl"), F.count("*").alias("n_docs")
    )
    tf = (
        toks.filter(F.col("w").isin(*_BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_c",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            )
            * F.col("tf")
            * (_BM25_K1 + 1.0)
            / (
                F.col("tf")
                + _BM25_K1
                * (
                    1.0
                    - _BM25_B
                    + _BM25_B * F.col("dlen") / F.col("avgdl")
                )
            ),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            (F.floor(F.sum("_c") * 1e4 + F.lit(0.5)) / 1e4).alias("score"),
            F.count("*").cast("int").alias("n_terms"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@_register(
    "inverted_index_tokens",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS doc_freq,
           list_sort(list(doc_id))[1:10] AS postings_head
    FROM toks GROUP BY token
    HAVING count(*) >= 200
    """,
    "Inverted-index build: token → sorted posting list (head) + "
    "document frequency, distinct-per-doc then one groupBy on the "
    "token — the index layout retrieval and contamination checks "
    "join against. Posting lists stay distributed (arrays per "
    "token row), never driver-side",
    ("retrieval", "index", "documents"),
)
def inverted_index_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10).alias(
                "postings_head"
            ),
        )
        .filter(F.col("doc_freq") >= 200)
    )


_BOILER_W = 3  # tokens per "line" (synthetic docs have no newlines)


@_register(
    "boilerplate_lines_documents",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    e AS (
      SELECT doc_id, source,
             list_slice(w, ci * {_BOILER_W} + 1,
                        ci * {_BOILER_W} + {_BOILER_W}) AS chunk
      FROM t,
           UNNEST(generate_series(
             0, CAST(ceil(len(w) / {_BOILER_W}.0) AS INT) - 1)) AS g(ci)
    ),
    lines AS (
      SELECT doc_id, source, array_to_string(chunk, ' ') AS line,
             len(chunk) AS ntok
      FROM e
    ),
    df AS (
      SELECT source, line, count(DISTINCT doc_id) AS df,
             count(*) AS occ, sum(ntok) AS toks
      FROM lines GROUP BY source, line
    ),
    sd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    agg AS (
      SELECT source,
             CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) AS boiler_lines,
             CAST(coalesce(sum(occ) FILTER (WHERE df >= 2), 0) AS BIGINT)
               AS boiler_occurrences,
             CAST(coalesce(sum(toks) FILTER (WHERE df >= 2), 0) AS BIGINT)
               AS boiler_tokens,
             sum(toks) AS total_tokens
      FROM df GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, boiler_lines,
           boiler_occurrences, boiler_tokens,
           floor(boiler_tokens * 1.0 / total_tokens * 1000000 + 0.5)
             / 1000000.0 AS removed_frac
    FROM agg JOIN sd USING (source)
    """,
    "CCNet/Dolma-style boilerplate detection: chunk each document "
    "into fixed 3-token lines, flag lines that recur in >=2 distinct "
    "documents of the SAME source (headers/footers/nav repeated "
    "across a domain), and report per-source removal impact. Lines "
    "are built scan-locally by array slicing (zero Python); the only "
    "data-sized shuffle is keyed by (source, line) — uniform hash, no "
    "skew; per-source doc counts are a tiny broadcast side",
    ("text", "quality", "boilerplate", "documents"),
)
def boilerplate_lines_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    chunks = d.select(
        "doc_id",
        "source",
        w.alias("w"),
        F.ceil(F.size(w) / _BOILER_W).cast("int").alias("n_chunks"),
    ).select(
        "doc_id",
        "source",
        "w",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("ci"),
    ).select(
        "doc_id",
        "source",
        F.slice("w", F.col("ci") * _BOILER_W + 1, _BOILER_W).alias("chunk"),
    )
    lines = chunks.select(
        "doc_id",
        "source",
        F.array_join("chunk", " ").alias("line"),
        F.size("chunk").cast("long").alias("ntok"),
    )
    df_stats = lines.groupBy("source", "line").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("occ"),
        F.sum("ntok").alias("toks"),
    )
    boiler = F.col("df") >= 2
    per_source = df_stats.groupBy("source").agg(
        F.count(F.when(boiler, 1)).alias("boiler_lines"),
        F.coalesce(F.sum(F.when(boiler, F.col("occ"))), F.lit(0)).alias(
            "boiler_occurrences"
        ),
        F.coalesce(F.sum(F.when(boiler, F.col("toks"))), F.lit(0)).alias(
            "boiler_tokens"
        ),
        F.sum("toks").alias("total_tokens"),
    )
    n_docs = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    return per_source.join(F.broadcast(n_docs), on="source").select(
        "source",
        "n_docs",
        "boiler_lines",
        "boiler_occurrences",
        "boiler_tokens",
        _stable_ratio6(
            F.col("boiler_tokens") * F.lit(1.0), F.col("total_tokens")
        ).alias("removed_frac"),
    )


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

    from ..streaming.rollup import RollupTable, write_stream_to_rollup

    from ..sources.tables import load_events_stream

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

    from ..sources.tables import load_events_stream
    from ..streaming.joins import stream_stream_interval_join

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

    from ..sources.tables import load_events_stream, load_table
    from ..streaming.joins import stream_static_enrich

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


# ---------------------------------------------------------------------------
# Round-2 additions: market-basket lift, Markov transitions, robust
# outlier detection, ER blocking, purchase-interval stats, column
# profiling, skyline. All DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

@_register(
    "market_basket_pairs",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS pair_cnt
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ocnt
           FROM items GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem)
    SELECT p.part_a, p.part_b, CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
           floor((CAST(p.pair_cnt AS BIGINT) * n.n_orders)
                 / (ca.ocnt * cb.ocnt) * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN n
    """,
    "Market-basket co-purchase mining, basket-style: ONE shuffle of "
    "the fact table (groupBy order → sorted distinct part array), "
    "then pair generation happens IN-ROW via higher-order functions "
    "(transform×slice over the basket array — basket-size² work with "
    "zero extra shuffle, never a fact-table self-join), a pair-sized "
    "groupBy for support, and lift = P(a,b)/(P(a)·P(b)) from "
    "broadcast per-part order counts + a broadcast scalar order "
    "count. The association-rules primitive the reference's "
    "user-order statistics gesture at",
    ("join", "agg", "basket", "hof"),
)
def market_basket_pairs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    arr = F.col("parts")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    part_counts = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("ocnt"))
    )
    n_orders = li.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    lift_num = F.col("pair_cnt") * F.col("n_orders")
    lift_den = F.col("ocnt_a") * F.col("ocnt_b")
    q = lift_num / lift_den
    return (
        pairs.join(
            F.broadcast(
                part_counts.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("ocnt").alias("ocnt_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                part_counts.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("ocnt").alias("ocnt_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_cnt",
            (F.floor(q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias("lift"),
        )
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
    "mad_outlier_events",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(min(d.med) * 10000 + 0.5) / 10000.0 AS med_value,
           floor(min(m.mad) * 10000 + 0.5) / 10000.0 AS mad_value,
           CAST(count_if(d.ad > m.mad * 4.4478) AS BIGINT) AS n_outliers,
           floor(count_if(d.ad > m.mad * 4.4478) * 1.0 / count(*)
                 * 1000000 + 0.5) / 1000000.0 AS outlier_frac
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    "Robust outlier detection per group: median + MAD (median "
    "absolute deviation), flagging values beyond 3σ-equivalent "
    "(3·1.4826·MAD) — immune to the outliers themselves, unlike "
    "mean/stddev fences. Two exact-percentile passes (Spark "
    "percentile() ≡ DuckDB quantile_cont()), medians broadcast back "
    "to the scan; the data-cleaning gate for value columns",
    ("agg", "percentile", "quality", "events"),
)
def mad_outlier_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("ad"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = F.col("ad") > F.col("mad") * F.lit(4.4478)
    frac = F.sum(is_out.cast("long")) * F.lit(1.0) / F.count("*")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (F.floor(F.min("med") * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias(
            "med_value"
        ),
        (F.floor(F.min("mad") * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias(
            "mad_value"
        ),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        (F.floor(frac * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "outlier_frac"
        ),
    )


@_register(
    "blocking_candidate_pairs",
    """
    WITH b AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS tok, p_brand
      FROM part
    )
    SELECT a.p_partkey AS key_a, c.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS edit_dist
    FROM b a JOIN b c
      ON a.tok = c.tok AND a.p_brand = c.p_brand
     AND a.p_partkey < c.p_partkey
    WHERE levenshtein(a.p_name, c.p_name) <= 2
    """,
    "Entity-resolution blocking: candidate pairs come from an "
    "equi-join on a cheap blocking key (first name token × brand) — "
    "a hash-partitioned shuffle with per-block quadratic cost bounded "
    "by block size — then the expensive edit-distance verifier runs "
    "on candidates only. The scale-correct tier that "
    "part_name_edit_distance_pairs' bounded cross join stands in "
    "for; at 100 TB the block key is the difference between O(n²) "
    "and O(Σ blk²)",
    ("join", "text", "similarity", "dedup"),
)
def blocking_candidate_pairs(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok"),
        "p_brand",
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "tok",
        "p_brand",
    )
    c = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "tok",
        "p_brand",
    )
    # sf1 cost note (r5 sweep, 111×): OUTPUT-BOUND on this fixture —
    # the fixed 90-word name vocabulary over 200k parts makes the
    # TRUE answer 13.5M ed≤2 pairs at sf1 (~100× the sf0.1 answer),
    # the same fixture property as edit_distance_pairs_parts. A/B'd
    # lossless "optimizations" and kept the plain kernel: the ±2
    # length-band prunes nothing here (uniform name lengths; 148 →
    # 229 s) and Spark's thresholded levenshtein(_,_,2) is SLOWER
    # than the full kernel on these short strings (148 → 190 s).
    # At real-corpus vocabularies the block key scales with the
    # entity space and per-block cost stays bounded — that contract
    # is the row's point.
    return (
        a.join(c, ["tok", "p_brand"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("edit_dist") <= 2)
        .select("key_a", "key_b", "edit_dist")
    )


@_register(
    "customer_order_intervals",
    """
    WITH seq AS (
      SELECT o_custkey,
             CAST(date_diff('day',
               lag(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS INTEGER) AS gap_days
      FROM orders
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_gaps,
           floor(CAST(sum(gap_days) AS BIGINT) * 1.0 / count(*)
                 * 1000000 + 0.5) / 1000000.0 AS avg_gap_days,
           max(gap_days) AS max_gap_days
    FROM seq WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
    "Inter-purchase interval statistics: per-customer event-time "
    "lag() (one shuffle on the customer key), day gaps between "
    "consecutive orders, then per-customer count/avg/max. The "
    "recency-cadence feature underlying churn/LTV models; the window "
    "partitioning reuses the same exchange for the follow-up groupBy",
    ("window", "agg", "orders"),
)
def customer_order_intervals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    avg_q = F.sum("gap_days") * F.lit(1.0) / F.count("*")
    return seq.groupBy("o_custkey").agg(
        F.count("*").alias("n_gaps"),
        (F.floor(avg_q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "avg_gap_days"
        ),
        F.max("gap_days").alias("max_gap_days"),
    )


@_register(
    "profile_numeric_lineitem",
    """
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(l_quantity) AS BIGINT)      AS qty_nulls,
             CAST(count(DISTINCT l_quantity) AS BIGINT)        AS qty_dist,
             min(l_quantity) AS qty_min,  max(l_quantity) AS qty_max,
             CAST(count(*) - count(l_extendedprice) AS BIGINT) AS price_nulls,
             CAST(count(DISTINCT l_extendedprice) AS BIGINT)   AS price_dist,
             min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max,
             CAST(count(*) - count(l_discount) AS BIGINT)      AS disc_nulls,
             CAST(count(DISTINCT l_discount) AS BIGINT)        AS disc_dist,
             min(l_discount) AS disc_min, max(l_discount) AS disc_max,
             CAST(count(*) - count(l_tax) AS BIGINT)           AS tax_nulls,
             CAST(count(DISTINCT l_tax) AS BIGINT)             AS tax_dist,
             min(l_tax) AS tax_min, max(l_tax) AS tax_max
      FROM lineitem
    )
    SELECT 'l_quantity' AS column_name, n_rows, qty_nulls AS n_nulls,
           qty_dist AS n_distinct, qty_min AS min_value, qty_max AS max_value
    FROM agg
    UNION ALL
    SELECT 'l_extendedprice', n_rows, price_nulls, price_dist,
           price_min, price_max FROM agg
    UNION ALL
    SELECT 'l_discount', n_rows, disc_nulls, disc_dist,
           disc_min, disc_max FROM agg
    UNION ALL
    SELECT 'l_tax', n_rows, tax_nulls, tax_dist, tax_min, tax_max FROM agg
    """,
    "Single-scan column profiling (the data-catalog primitive): "
    "row count, null count, exact distinct count, min/max for every "
    "numeric lineitem column in ONE aggregate (Catalyst Expand "
    "handles the multi-distinct), unpivoted to one row per column "
    "via stack(). At 100 TB swap the exact distincts for "
    "approx_count_distinct — same plan minus the Expand multiplier",
    ("agg", "profile", "quality"),
)
def profile_numeric_lineitem(spark, sf_dir):
    # NOT spread (r9 interleaved A/B: 1.93 s spread vs 1.49 s without
    # — the multi-distinct Expand re-partials AFTER its own keyed
    # exchange, so a round-robin pre-exchange only added a shuffle)
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "l_quantity": "qty",
        "l_extendedprice": "price",
        "l_discount": "disc",
        "l_tax": "tax",
    }
    aggs = [F.count("*").alias("n_rows")]
    for col, p in cols.items():
        aggs += [
            (F.count("*") - F.count(col)).alias(f"{p}_nulls"),
            F.countDistinct(col).alias(f"{p}_dist"),
            F.min(col).alias(f"{p}_min"),
            F.max(col).alias(f"{p}_max"),
        ]
    agg = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {p}_nulls, {p}_dist, {p}_min, {p}_max"
        for col, p in cols.items()
    )
    return agg.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value",
    )


@_register(
    "skyline_parts_price_size",
    """
    WITH d AS (
      SELECT p_retailprice AS price, p_size AS size,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT price, size, n_parts
    FROM d
    WHERE NOT EXISTS (
      SELECT 1 FROM d d2
      WHERE d2.price <= d.price AND d2.size >= d.size
        AND (d2.price < d.price OR d2.size > d.size)
    )
    """,
    "Skyline (Pareto frontier) query — minimize price, maximize "
    "size — rewritten from the O(n²) NOT-EXISTS dominance test into "
    "a sort + running-max scan: after deduping to distinct "
    "(price,size) points, sort by (price asc, size desc); a point is "
    "dominated iff a strictly-preceding point has size ≥ its own. "
    "Runs as two phases — per-partition local skyline (dominance is "
    "distributive: local losers can never be global winners), then "
    "the tiny survivor set through one global window — so no single "
    "node ever sorts the full input",
    ("window", "skyline", "sort"),
)
def skyline_parts_price_size(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    d = p.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    ).agg(F.count("*").alias("n_parts"))

    def prune(df, *partition_cols):
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col("price").asc(), F.col("size").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
            if partition_cols
            else Window.orderBy(F.col("price").asc(), F.col("size").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        m = F.max("size").over(w)
        return df.withColumn("_m", m).filter(
            F.col("_m").isNull() | (F.col("_m") < F.col("size"))
        ).drop("_m")

    local = prune(d.withColumn("_pid", F.spark_partition_id()), "_pid").drop(
        "_pid"
    )
    return prune(local).select("price", "size", "n_parts")


@_register(
    "dense_ids_documents",
    """
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
    FROM documents
    """,
    "Global dense 0-based row ids in doc_id order WITHOUT a global "
    "single-partition sort (operators/scale.py::dense_ids): "
    "repartitionByRange gives cross-partition order, a #partitions-"
    "sized counting pass yields exclusive prefix offsets, and an "
    "Arrow mapInPandas adds offset + local position — no row ever "
    "funnels through one task, unlike the oracle's row_number(). "
    "The id layer for training-data sharding (shard = row_id % n)",
    ("scale", "ids", "documents"),
)
def dense_ids_documents(spark, sf_dir):
    from ..operators.scale import dense_ids

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return dense_ids(d, "doc_id")


@_register(
    "top_p_tokens_per_source",
    """
    WITH cnt AS (
      SELECT source, unnest(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS token
      FROM documents
    ),
    freq AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS token_cnt
      FROM cnt GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, token, token_cnt,
             CAST(sum(token_cnt) OVER (
               PARTITION BY source ORDER BY token_cnt DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(token_cnt) OVER (PARTITION BY source)
               AS BIGINT) AS tot
      FROM freq
    )
    SELECT source, token, token_cnt,
           floor(cum / tot * 1000000 + 0.5) / 1000000.0 AS cum_share
    FROM ranked
    WHERE (cum - token_cnt) * 10 < tot * 8
    """,
    "Nucleus (top-p, p=0.8) vocabulary truncation per source: token "
    "frequencies, deterministic (freq desc, token asc) ranking, keep "
    "the smallest prefix covering 80% of token mass. The keep "
    "predicate is pure INTEGER arithmetic ((cum-cnt)·10 < tot·8) so "
    "the cut is bit-exact on any engine; one shuffle for the "
    "frequency agg, one for the per-source window — vocabulary-"
    "sized, not corpus-sized, after the first agg",
    ("text", "window", "documents", "topk"),
)
def top_p_tokens_per_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("token_cnt"))
    )
    w_order = (
        Window.partitionBy("source")
        .orderBy(F.desc("token_cnt"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("token_cnt").over(w_order)
    tot = F.sum("token_cnt").over(Window.partitionBy("source"))
    share = F.col("cum") / F.col("tot")
    return (
        freq.select(
            "source",
            "token",
            "token_cnt",
            cum.alias("cum"),
            tot.alias("tot"),
        )
        .filter((F.col("cum") - F.col("token_cnt")) * 10 < F.col("tot") * 8)
        .select(
            "source",
            "token",
            "token_cnt",
            (F.floor(share * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(
                "cum_share"
            ),
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
    "psi_price_drift_bins",
    """
    WITH binned AS (
      SELECT least(greatest(CAST(floor((l_extendedprice - 900.0) / 10410.0)
                                 AS INTEGER), 0), 9) AS bin,
             CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                  THEN 'ref' ELSE 'cur' END AS cohort
      FROM lineitem
    ),
    cnt AS (
      SELECT bin,
             CAST(count_if(cohort = 'ref') AS BIGINT) AS ref_cnt,
             CAST(count_if(cohort = 'cur') AS BIGINT) AS cur_cnt
      FROM binned GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ref_cnt) AS BIGINT) AS ref_tot,
             CAST(sum(cur_cnt) AS BIGINT) AS cur_tot FROM cnt
    )
    SELECT bin, ref_cnt, cur_cnt,
           floor((ref_cnt + 1) / (ref_tot + 10) * 1000000 + 0.5)
             / 1000000.0 AS ref_frac,
           floor((cur_cnt + 1) / (cur_tot + 10) * 1000000 + 0.5)
             / 1000000.0 AS cur_frac,
           floor(((ref_cnt + 1) / (ref_tot + 10)
                  - (cur_cnt + 1) / (cur_tot + 10))
                 * ln(((ref_cnt + 1) / (ref_tot + 10))
                      / ((cur_cnt + 1) / (cur_tot + 10)))
                 * 1000000 + 0.5) / 1000000.0 AS psi_contrib
    FROM cnt CROSS JOIN tot
    """,
    "Population-stability-index drift report between a reference "
    "cohort (shipped pre-1998) and the current cohort over 10 fixed "
    "price bins, Laplace-smoothed — the distribution-drift monitor "
    "for feature pipelines. Emits PER-BIN contributions (sum them "
    "for the scalar PSI) so every value derives from integer counts "
    "through one deterministic float expression; one scan, one "
    "10-group aggregate, a broadcast scalar total",
    ("agg", "quality", "drift", "lineitem"),
)
def psi_price_drift_bins(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - 900.0) / 10410.0).cast("int"),
            F.lit(0),
        ),
        F.lit(9),
    )
    is_ref = F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    cnt = (
        li.select(bin_col.alias("bin"), is_ref.alias("is_ref"))
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("ref_cnt"),
            F.sum((~F.col("is_ref")).cast("long")).alias("cur_cnt"),
        )
    )
    tot = cnt.agg(
        F.sum("ref_cnt").alias("ref_tot"), F.sum("cur_cnt").alias("cur_tot")
    )
    p = (F.col("ref_cnt") + 1) / (F.col("ref_tot") + 10)
    q = (F.col("cur_cnt") + 1) / (F.col("cur_tot") + 10)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    return cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        r6(p).alias("ref_frac"),
        r6(q).alias("cur_frac"),
        r6((p - q) * F.log(p / q)).alias("psi_contrib"),
    )


@_register(
    "benford_first_digit_orders",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders
    ),
    cnt AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt)
    SELECT digit, n,
           floor(n / t * 1000000 + 0.5) / 1000000.0 AS observed_frac,
           floor(log10(1 + 1.0 / digit) * 1000000 + 0.5) / 1000000.0
             AS benford_frac,
           floor((n / t - log10(1 + 1.0 / digit)) * 1000000 + 0.5)
             / 1000000.0 AS deviation
    FROM cnt CROSS JOIN tot
    """,
    "Benford's-law first-digit screening on order totals — the "
    "classic anomaly/fraud smell test for monetary columns: observed "
    "first-significant-digit distribution vs log10(1+1/d), per-digit "
    "deviations (the synthetic generator's uniform pricing shows up "
    "immediately as a 1-4 digit surplus). One scan, 9-group agg, "
    "broadcast scalar total",
    ("agg", "quality", "orders"),
)
def benford_first_digit_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    cnt = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("t"))
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    obs = F.col("n") / F.col("t")
    ben = F.log10(1 + 1.0 / F.col("digit"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        r6(obs).alias("observed_frac"),
        r6(ben).alias("benford_frac"),
        r6(obs - ben).alias("deviation"),
    )


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

    from ..streaming.dedup import LshDedupSink, write_stream_dedup_lsh

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

    from ..streaming.dedup import VectorDedupSink, write_stream_dedup_vectors

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


@_register(
    "rfm_segmentation_customers",
    """
    WITH cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 4) AS monetary
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS INTEGER)
             AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INTEGER)
             AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INTEGER)
             AS m_score
    FROM cust
    """,
    "RFM customer segmentation: per-customer recency/frequency/"
    "monetary rollup (one fact-keyed aggregate), then quartile scores "
    "via ntile with a deterministic (metric, key) tie order. The "
    "three global ntiles run over #customers rows, not orders; at "
    "larger scale swap exact ntile for percentile-threshold buckets "
    "(winsorize_bounds_lineitem shows the broadcast-clamp shape)",
    ("window", "agg", "orders", "segmentation"),
)
def rfm_segmentation_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    def score(col):
        return F.ntile(4).over(
            Window.orderBy(F.col(col), F.col("o_custkey"))
        ).cast("int")
    return cust.select(
        "o_custkey",
        "frequency",
        "monetary",
        score("last_order").alias("r_score"),
        score("frequency").alias("f_score"),
        score("monetary").alias("m_score"),
    )


@_register(
    "revenue_gini_by_segment",
    """
    WITH cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             round(sum(o.o_totalprice), 4) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, rev,
             CAST(row_number() OVER (PARTITION BY segment
                                     ORDER BY rev, o_custkey) AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
      FROM cust
    )
    SELECT segment, CAST(min(n) AS BIGINT) AS n_customers,
           round(sum((2 * i - n - 1) * rev), 4) AS gini_num,
           round(min(n) * sum(rev), 4) AS gini_den
    FROM ranked GROUP BY segment
    """,
    "Revenue-concentration (Gini) report per market segment: "
    "customer revenue ranked within segment (deterministic (rev, "
    "key) order), Gini numerator Σ(2i−n−1)·rev and denominator "
    "n·Σrev emitted separately so both engines round the same "
    "2-decimal-money sums rather than a division of two "
    "accumulations; gini = num/den at read time. One fact aggregate, "
    "one #customers-sized window",
    ("window", "agg", "orders", "inequality"),
)
def revenue_gini_by_segment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cust = (
        o.join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("segment"),
                )
            ),
            "o_custkey",
        )
        .groupBy("segment", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
    )
    w = Window.partitionBy("segment").orderBy("rev", "o_custkey")
    ranked = cust.select(
        "segment",
        "rev",
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(Window.partitionBy("segment")).alias("n"),
    )
    return ranked.groupBy("segment").agg(
        F.min("n").alias("n_customers"),
        F.round(F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("rev")), 4).alias(
            "gini_num"
        ),
        F.round(F.min("n") * F.sum("rev"), 4).alias("gini_den"),
    )


@_register(
    "token_zipf_slope_by_source",
    """
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS f
      FROM toks GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, f,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY f DESC, tok) AS BIGINT) AS r
      FROM freq
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           round(regr_slope(ln(f), ln(r)), 4) + 0.0 AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 4) + 0.0 AS zipf_r2
    FROM ranked GROUP BY source
    """,
    "Zipf's-law fit per source: token frequencies ranked "
    "deterministically, then the log-log regression slope and R² "
    "(Spark regr_slope/regr_r2 ≡ DuckDB) — natural corpora sit near "
    "slope −1, so a source whose slope collapses toward 0 is "
    "template/boilerplate-heavy and one that steepens is "
    "degenerate-repetitive; a corpus-health screen that costs one "
    "vocabulary-sized window after the frequency aggregate",
    ("text", "agg", "documents", "quality"),
)
def token_zipf_slope_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("f"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("f"), F.asc("tok"))
    ranked = freq.select(
        "source", "f", F.row_number().over(w).cast("long").alias("r")
    )
    return ranked.groupBy("source").agg(
        F.count("*").alias("vocab"),
        (F.round(F.expr("regr_slope(ln(f), ln(r))"), 4) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (F.round(F.expr("regr_r2(ln(f), ln(r))"), 4) + F.lit(0.0)).alias(
            "zipf_r2"
        ),
    )


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

    from ..streaming.ann_index import IvfVectorIndex, write_stream_to_ivf_index

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
    "unigram_surprisal_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(f) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS v FROM vocab
    ),
    scored AS (
      SELECT t.doc_id,
             -log2((vb.f + 1.0) / (tot.n + tot.v)) AS surprisal
      FROM toks t JOIN vocab vb ON vb.tok = t.tok CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(surprisal), 4) + 0.0 AS avg_surprisal_bits,
           round(max(surprisal), 4) + 0.0 AS max_surprisal_bits
    FROM scored GROUP BY doc_id
    """,
    "Unigram-LM surprisal per document — the simplest instance of "
    "LM-based quality filtering (CCNet-style): corpus-wide "
    "Laplace-smoothed token probabilities (a vocabulary-sized "
    "aggregate, broadcast back), per-token −log₂p, per-doc mean/max. "
    "Documents whose average surprisal collapses are "
    "boilerplate/repetitive; spikes flag gibberish. Two scans of the "
    "token stream, vocabulary joins broadcast, never a corpus "
    "self-join",
    ("text", "agg", "documents", "quality"),
)
def unigram_surprisal_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("f"))
    tot = vocab.agg(
        F.sum("f").alias("n"), F.count("*").alias("v")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (-F.log2((F.col("f") + 1.0) / (F.col("n") + F.col("v")))).alias(
                "surprisal"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (F.round(F.avg("surprisal"), 4) + F.lit(0.0)).alias(
            "avg_surprisal_bits"
        ),
        (F.round(F.max("surprisal"), 4) + F.lit(0.0)).alias(
            "max_surprisal_bits"
        ),
    )


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

    from ..sources.tables import load_events_stream

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


def _kcore_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled fixed-round k-core peel (same pattern as the pagerank
    oracle: recursive CTEs cannot re-aggregate per round, an unrolled
    chain is plain ANSI SQL). Round i keeps nodes whose degree in the
    round-(i-1) edge set is ≥ k and restricts edges to kept
    endpoints; the Spark operator runs the identical recurrence with
    an early stop that is a no-op on a stabilized set."""
    ctes = [
        """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )""",
        """e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM pairs
           UNION SELECT pb, pa FROM pairs)""",
    ]
    # AS MATERIALIZED: each CTE references its predecessor multiple
    # times; inlining would expand the chain exponentially (DuckDB
    # inlines CTEs by default and runs out of file handles re-opening
    # the scan)
    for i in range(1, rounds + 1):
        ctes.append(
            f"""keep{i} AS MATERIALIZED (
      SELECT a FROM e{i - 1} GROUP BY a HAVING count(*) >= {k})"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i - 1} e
      JOIN keep{i} ka ON ka.a = e.a
      JOIN keep{i} kb ON kb.a = e.b)"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{rounds} GROUP BY a HAVING count(*) >= {k}"""
    )


@_register(
    "part_copurchase_kcore",
    _kcore_oracle(k=3, rounds=8),
    "k-core decomposition (k=3) of the part co-purchase graph "
    "(market-basket pairs with support ≥2 as undirected edges): "
    "iterative peeling removes nodes of degree <3 until the maximal "
    "subgraph with min degree ≥3 remains — the dense-cohort detector "
    "completing the graph family (PageRank, connected components, "
    "triangles). Fixed-round recurrence, lineage-truncating "
    "checkpoints; oracle is the identical peel unrolled as a CTE "
    "chain",
    ("graph", "iterative", "kcore"),
)
def part_copurchase_kcore(spark, sf_dir):
    from ..operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").dropDuplicates()
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return kcore(pairs, "src", "dst", k=3, rounds=8)


@_register(
    "cdc_source_decode_counts",
    """
    WITH seq AS (SELECT unnest(generate_series(0, 1999)) AS i),
    recs AS (
      SELECT i, (i * 7) % 499 + 1 AS emp_id,
             ['c', 'u', 'u', 'd'][i % 4 + 1] AS op
      FROM seq
    )
    SELECT ['Engineering', 'Marketing', 'Sales', 'HR'][emp_id % 4 + 1]
             AS department,
           op, CAST(count(*) AS BIGINT) AS n_events
    FROM recs WHERE op <> 'd'
    GROUP BY 1, 2
    """,
    "Custom Python DataSource end-to-end (Spark 4 DataSource API): "
    "the broker-less cdc_envelope source (sources/cdc_source.py) "
    "emits 2000 Kafka-shaped Debezium records across 4 input "
    "partitions, the standard two-stage decode_cdc parses them "
    "(deletes dropped), and per-department op counts must equal the "
    "oracle's arithmetic reconstruction of the deterministic "
    "generator — proving the pluggable source, the envelope "
    "contract, and the decode path agree record-for-record",
    ("cdc", "source", "datasource"),
)
def cdc_source_decode_counts(spark, sf_dir):
    from ..schemas import EMPLOYEE_SCHEMA
    from ..sources.cdc import decode_cdc
    from ..sources.cdc_source import CdcEnvelopeDataSource

    spark.dataSource.register(CdcEnvelopeDataSource)
    raw = (
        spark.read.format("cdc_envelope")
        .option("rows", 2000)
        .option("numPartitions", 4)
        .load()
    )
    decoded = decode_cdc(raw.select("value"), EMPLOYEE_SCHEMA)
    return decoded.groupBy("department", "op").agg(
        F.count("*").alias("n_events")
    )


def _phash_oracle() -> str:
    """Bit-exact DuckDB twin of the integer pHash: the frozen 8×32
    DCT basis (operators/multimodal.py::PHASH_DCT_W8) is injected as
    literals, pixels are the tiled ASCII bytes of the text payload
    (the stub decoder's contract), and every step — two integer
    matmuls, the 2·c > s₃₂+s₃₃ median threshold, the 2^k bit pack
    with signed-64 wraparound — is exact integer arithmetic, so the
    hashes value-hash-match without tolerance (r6: rows-only → full
    oracle row, the BPE generated-CTE precedent)."""
    from ..operators.multimodal import PHASH_DCT_W8

    w_vals = ", ".join(
        f"({u}, {x}, {wv})"
        for u, row in enumerate(PHASH_DCT_W8)
        for x, wv in enumerate(row)
    )
    return f"""
    WITH w(u, x, wv) AS (VALUES {w_vals}),
    px AS (
      SELECT doc_id, CAST(i // 32 AS INTEGER) AS r,
             CAST(i % 32 AS INTEGER) AS c,
             ascii(substr(text,
                          CAST(i % length(text) AS INTEGER) + 1,
                          1)) AS px
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, 1023)) AS i
            FROM documents)
    ),
    t AS (
      SELECT px.doc_id, w.u, px.c,
             CAST(sum(w.wv * px.px) AS BIGINT) AS tv
      FROM px JOIN w ON w.x = px.r
      GROUP BY 1, 2, 3
    ),
    coef AS (
      SELECT t.doc_id, t.u, w.u AS v,
             CAST(sum(t.tv * w.wv) AS BIGINT) AS cv
      FROM t JOIN w ON w.x = t.c
      GROUP BY 1, 2, 3
    ),
    med AS (
      SELECT doc_id, list(cv ORDER BY cv) AS s FROM coef GROUP BY 1
    ),
    packed AS (
      SELECT coef.doc_id,
             sum(CASE WHEN 2 * cv > med.s[32] + med.s[33]
                 THEN CAST(power(2, coef.u * 8 + coef.v) AS HUGEINT)
                 ELSE CAST(0 AS HUGEINT) END) AS h
      FROM coef JOIN med ON med.doc_id = coef.doc_id
      GROUP BY 1
    )
    SELECT doc_id AS media_id,
           CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
                THEN h - CAST(18446744073709551616 AS HUGEINT)
                ELSE h END AS BIGINT) AS phash
    FROM packed
    """


@_register(
    "multimodal_phash_images",
    _phash_oracle(),
    "Perceptual-hash image fingerprints (the image tier of corpus "
    "dedup): 64-bit pHash per payload — 32×32 grayscale → integer "
    "2-D DCT against the frozen PHASH_DCT_W8 basis (2^15-scaled "
    "literals; every step exact int64) → 8×8 low-frequency block → "
    "integer median threshold → 64-bit pack, all numpy in one Arrow "
    "pass, no shuffle. FULL oracle row since r6: the DuckDB twin "
    "replays the same literals, so hashes match bit-for-bit. Pair "
    "mining is operators/multimodal.py::phash_near_dup_pairs: "
    "pigeonhole banding (any pair within Hamming budget agrees on "
    "≥1 band) + JVM-side bit_count(xor) verify. Decode stubbed (no "
    "codecs here); DCT/threshold/band stages are the real algorithm",
    ("multimodal", "dedup", "phash", "documents"),
)
def multimodal_phash_images(spark, sf_dir):
    from ..operators.multimodal import (
        phash_images,
        synthetic_media_from_documents,
    )

    d = _t(spark, sf_dir, "documents")
    media = synthetic_media_from_documents(d)
    return phash_images(media)


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
    "bfs_nation_hops",
    """
    WITH RECURSIVE base AS (
      SELECT DISTINCT cn.n_name AS a, sn.n_name AS b
      FROM lineitem
      JOIN orders    ON o_orderkey  = l_orderkey
      JOIN customer  ON c_custkey   = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN supplier  ON s_suppkey   = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE cn.n_name <> sn.n_name
    ),
    edges AS (SELECT a, b FROM base UNION SELECT b, a FROM base),
    walk(node, hops) AS (
      SELECT 'NATION_0', 0
      UNION
      SELECT e.b, walk.hops + 1
      FROM walk JOIN edges e ON e.a = walk.node
      WHERE walk.hops < 4
    )
    SELECT node, CAST(min(hops) AS INT) AS hops
    FROM walk GROUP BY node
    """,
    "Unweighted shortest-path hop counts (BFS, <=4 hops) from "
    "NATION_0 over the undirected customer-nation <-> supplier-nation "
    "trade graph. Frontier-expansion joins with an anti-join against "
    "the visited set (operators/graph.py::bfs_hops), lineage "
    "checkpoint-truncated per round; oracle is a bounded recursive "
    "CTE taking min(hops) per reached node. Completes the graph "
    "family: reachability radius alongside PageRank, components, "
    "triangles, k-core",
    ("graph", "iterative", "bfs"),
)
def bfs_nation_hops(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("src"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("dst"))
    edges = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates()
    )
    # The deduped nation graph is ≤ nation² integer-semantics edges;
    # the 4 frontier rounds ran distributed as ~10 eager-checkpoint
    # jobs (pure scheduling at any input size — measured round 8).
    # Driver BFS is bit-exact by construction: integer hop labels,
    # same frontier-expansion order-independence as the operator
    # (operators/graph.py::bfs_hops, kept for unbounded graphs).
    adj: dict[str, set[str]] = {}
    for row in edges.collect():
        adj.setdefault(row["src"], set()).add(row["dst"])
        adj.setdefault(row["dst"], set()).add(row["src"])
    visited = {"NATION_0": 0}
    frontier = ["NATION_0"]
    for h in range(1, 5):
        nxt = sorted(
            {
                v
                for u in frontier
                for v in adj.get(u, ())
                if v not in visited
            }
        )
        if not nxt:
            break
        for v in nxt:
            visited[v] = h
        frontier = nxt
    return spark.createDataFrame(
        sorted(visited.items()), "node string, hops long"
    )


@_register(
    "events_mode_disc_census",
    """
    WITH s AS (
      SELECT event_type, count(*) AS n, list(value ORDER BY value) AS vs
      FROM events GROUP BY event_type
    ),
    b AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, bucket,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, bucket ASC) AS rn
      FROM b
    )
    SELECT s.event_type,
           CAST(n AS BIGINT) AS n_events,
           m.bucket AS mode_bucket,
           vs[CAST(ceil(n * 0.5::DOUBLE) AS INT)] AS p50_disc,
           vs[CAST(ceil(n * 0.9::DOUBLE) AS INT)] AS p90_disc
    FROM s JOIN m ON m.event_type = s.event_type AND m.rn = 1
    """,
    "Discrete order statistics the engine's percentile()/median "
    "(continuous, interpolating) cannot express: percentile_disc "
    "(0.5/0.9) as 1-based indexing into the sorted in-row value "
    "array (the returned value is always an actual data point, "
    "bit-identical across engines — no interpolation arithmetic), "
    "plus deterministic mode over floor-bucketed values (ties break "
    "to the smallest bucket via row_number, not engine-dependent "
    "mode())",
    ("agg", "census", "events"),
)
def events_mode_disc_census(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.array_sort(F.collect_list("value")).alias("vs"),
    )
    b = ev.withColumn("bucket", F.floor("value").cast("long")).groupBy(
        "event_type", "bucket"
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("bucket").asc()
    )
    m = (
        b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"))
    )

    def disc(q):
        return F.element_at(
            "vs", F.ceil(F.col("n") * F.lit(q)).cast("int")
        )

    return s.join(m, "event_type").select(
        "event_type",
        F.col("n").alias("n_events"),
        "mode_bucket",
        disc(0.5).alias("p50_disc"),
        disc(0.9).alias("p90_disc"),
    )


@_register(
    "quality_ensemble_documents",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks,
             length(text) AS n_c,
             length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_p
      FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))
                  AS DOUBLE) / greatest(len(toks), 1) AS stop_r,
             CAST(n_c - n_p AS DOUBLE) / greatest(n_c, 1) AS punct_r,
             CAST(least(len(toks), 64) AS DOUBLE) / 64.0 AS len_f
      FROM t
    ), x AS (
      SELECT doc_id,
             -1.0 + 2.5 * stop_r - 6.0 * punct_r + 1.5 * len_f AS raw
      FROM f
    )
    SELECT doc_id,
           round(0.5 + 0.5 * (raw / (1.0 + abs(raw))), 6) AS quality_score,
           raw >= 0.0 AS keep
    FROM x
    """,
    "Model-style quality ensemble: linear combination of stopword "
    "ratio, punctuation ratio and a saturating length feature, "
    "squashed through the RATIONAL sigmoid x/(1+|x|) instead of the "
    "logistic — only +,*,/,abs, so the score is bit-identical across "
    "engines (libm exp() is not). The shape of a fastText-quality "
    "/ Gopher-filter scorer as one JVM-side codegen expression: no "
    "UDF, no shuffle, scan-local",
    ("text", "quality", "ensemble", "documents"),
)
def quality_ensemble_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_r = stopword_ratio(F.col("text"))
    punct_r = punct_ratio(F.col("text"))
    len_f = F.least(F.size(toks), F.lit(64)).cast("double") / F.lit(64.0)
    raw = (
        F.lit(-1.0)
        + F.lit(2.5) * stop_r
        - F.lit(6.0) * punct_r
        + F.lit(1.5) * len_f
    )
    return d.select(
        "doc_id",
        F.round(
            F.lit(0.5) + F.lit(0.5) * (raw / (F.lit(1.0) + F.abs(raw))), 6
        ).alias("quality_score"),
        (raw >= F.lit(0.0)).alias("keep"),
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

    from ..sources.tables import load_events_stream
    from ..streaming.stateful import ewma_stream

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
    "decimal_exact_revenue",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS gross,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2))
                       - CAST(l_discount AS DECIMAL(3,2))))
                AS DECIMAL(38,4)) AS net
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "Exact money arithmetic: prices cast to DECIMAL(18,2) and "
    "discounts to DECIMAL(3,2) BEFORE aggregation, so gross and "
    "discounted revenue are exact decimal sums — no float "
    "accumulation error, no rounding discipline needed; the outputs "
    "hash-match as exact decimal strings. Final casts pin the "
    "result scale because Spark and DuckDB propagate decimal "
    "precision differently even when the VALUES are identical",
    ("agg", "decimal", "lineitem"),
)
def decimal_exact_revenue(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS gross,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(3,2))))
                    AS DECIMAL(38,4)) AS net
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@_register(
    "group_by_all_except_census",
    """
    WITH slim AS (SELECT * EXCLUDE (o_orderdate, o_custkey) FROM orders)
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM slim
    GROUP BY ALL
    """,
    "Modern projection/grouping sugar: SELECT * EXCEPT (Spark) / "
    "EXCLUDE (DuckDB) drops wide payload columns without "
    "enumerating the keep-list, and GROUP BY ALL infers the "
    "grouping keys from the select list — the ergonomic surface "
    "analysts expect from a 2024-era engine, compiled to the same "
    "single-shuffle hash aggregate (column pruning still reaches "
    "the scan: the EXCEPT projection prunes, not materializes)",
    ("sql", "census", "orders"),
)
def group_by_all_except_census(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH slim AS (SELECT * EXCEPT (o_orderdate, o_custkey) FROM orders)
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS total_price
        FROM slim
        GROUP BY ALL
        """
    )


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
    from ..operators.scale import dense_ids

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
    from ..operators.sampling import priority_sample

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
    "row `semantic_dedup_net_invariant` (registry54) pins the "
    "partition/epsilon-net/coverage properties",
    ("dedup", "semantic", "embeddings"),
)
def semantic_dedup_embeddings(spark, sf_dir):
    from ..operators.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.92)




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

    from ..sources.tables import load_events_stream
    from ..streaming.stateful import anomaly_stream

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
    "jaccard_prefix_filter_pairs",
    """
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM toks)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
    """,
    "Exact 3-gram Jaccard pairs (t=0.5) via PREFIX FILTERING "
    "(AllPairs/PPJoin): grams globally ordered rarest-first, each "
    "doc indexes only its first |d|-ceil(t|d|)+1 grams, and the "
    "prefix-filter theorem guarantees no qualifying pair is missed "
    "— the frequent grams that make inverted-index buckets "
    "quadratic are exactly the ones excluded from every prefix. "
    "Candidates verified in-row with array_intersect. The oracle is "
    "the naive full inverted-index SQL: matching it proves the "
    "pruning is LOSSLESS, not approximate",
    ("dedup", "ngram", "prefix-filter", "documents"),
)
def jaccard_prefix_filter_pairs_q(spark, sf_dir):
    from ..operators.dedup import jaccard_prefix_filter_pairs

    d = _t(spark, sf_dir, "documents")
    return jaccard_prefix_filter_pairs(
        d, "text", "doc_id", shingle_n=3, threshold=0.5
    )


@_register(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT coalesce(new.o_orderkey, old.o_orderkey) AS o_orderkey,
           CASE
             WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                  AND (old.o_totalprice IS DISTINCT FROM new.o_totalprice
                       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus)
               THEN 'u'
             WHEN new.o_orderkey IS NULL THEN 'd'
             WHEN old.o_orderkey IS NULL THEN 'c'
           END AS op,
           old.o_totalprice  AS old_o_totalprice,
           old.o_orderstatus AS old_o_orderstatus,
           new.o_totalprice  AS new_o_totalprice,
           new.o_orderstatus AS new_o_orderstatus
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
    """,
    "Snapshot diffing — CDC changelog DERIVATION (the inverse of the "
    "reference's envelope decode): two deterministic snapshots of "
    "orders (old drops keys %11=0; new drops %7=0 and bumps "
    "totalprice by an exact +10.0 on keys %5=0) are full-outer "
    "joined on the key and classified into the Debezium op taxonomy "
    "c/u/d with null-safe tracked-column comparison; unchanged keys "
    "emit nothing. One shuffle — the minimum for a diff; bucketed "
    "snapshots make it zero-exchange at 100 TB",
    ("cdc", "diff", "join"),
)
def snapshot_diff_orders(spark, sf_dir):
    from ..operators.diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"], tracked=["o_totalprice", "o_orderstatus"]
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


@_register(
    "woe_price_bins_lineitem",
    """
    WITH binned AS (
      SELECT l_returnflag = 'R' AS bad,
             ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bin
      FROM lineitem
    ),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_bad) AS BIGINT) AS tot_bad,
             CAST(sum(n - n_bad) AS BIGINT) AS tot_good
      FROM per_bin
    )
    SELECT bin, n, n_bad,
           round(ln((n_bad * 1.0 / tot_bad)
                    / ((n - n_bad) * 1.0 / tot_good)), 4) + 0.0 AS woe,
           round((n_bad * 1.0 / tot_bad - (n - n_bad) * 1.0 / tot_good)
                 * ln((n_bad * 1.0 / tot_bad)
                      / ((n - n_bad) * 1.0 / tot_good)), 6) + 0.0
             AS iv_contrib
    FROM per_bin CROSS JOIN tot
    """,
    "Weight-of-evidence / information-value feature binning (the "
    "credit-scoring & feature-selection primitive): deterministic "
    "decile bins over price (ntile semantics with a total tie "
    "order), per-bin bad-rate odds vs the corpus, ln-odds WOE and "
    "IV contribution. The ENGINE computes the bins via scale.py::"
    "dense_ids (range-partitioned parallel sort, partition-offset "
    "ranks) + ntile's bin-size arithmetic — no single-partition "
    "window; the oracle states the same bins with ntile. The "
    "binned target join is a broadcast of 2 totals",
    ("feature", "binning", "agg", "lineitem"),
)
def woe_price_bins_lineitem(spark, sf_dir):
    from ..operators.scale import dense_ids

    li = _t(spark, sf_dir, "lineitem")
    # ntile(10) over a total order WITHOUT the single-partition sort:
    # dense_ids gives the 0-based global rank r via range-partitioned
    # parallel sort; ntile's bin-size rule is then pure arithmetic —
    # the first (N mod 10) bins hold ceil(N/10) rows, the rest
    # floor(N/10) — so the bins bit-match DuckDB's ntile.
    proj = li.select(
        (F.col("l_returnflag") == "R").alias("bad"),
        "l_extendedprice", "l_orderkey", "l_linenumber",
    )
    ranked = dense_ids(
        proj, "l_extendedprice", "l_orderkey", "l_linenumber", id_col="r"
    )
    tot_n = proj.agg(F.count("*").alias("n_total"))
    base = F.floor(F.col("n_total") / 10)
    rem = F.col("n_total") % 10
    big = base + 1  # rows per bin in the first `rem` bins
    bin_col = F.when(
        F.col("r") < rem * big, F.floor(F.col("r") / big) + 1
    ).otherwise(
        rem
        + F.floor((F.col("r") - rem * big) / F.greatest(base, F.lit(1)))
        + 1
    )
    binned = ranked.crossJoin(F.broadcast(tot_n)).select(
        "bad", bin_col.cast("int").alias("bin")
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).alias("n_bad"),
    # 10-row aggregate with two consumers (the totals and the final
    # select) — without the checkpoint each consumer re-ran the whole
    # dense_ids + binning pass (r9 profile: 1.8 s + 0.9 s jobs)
    ).localCheckpoint(eager=False)
    tot = per_bin.agg(
        F.sum("n_bad").alias("tot_bad"),
        F.sum(F.col("n") - F.col("n_bad")).alias("tot_good"),
    )
    bad_share = F.col("n_bad") * 1.0 / F.col("tot_bad")
    good_share = (F.col("n") - F.col("n_bad")) * 1.0 / F.col("tot_good")
    woe = F.log(bad_share / good_share)
    return per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_bad",
        (F.round(woe, 4) + F.lit(0.0)).alias("woe"),
        (F.round((bad_share - good_share) * woe, 6) + F.lit(0.0)).alias(
            "iv_contrib"
        ),
    )


@_register(
    "skew_diagnostics_lineitem",
    """
    WITH per_key AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           CAST(min(cnt) AS BIGINT) AS min_cnt,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           floor(max(cnt) * 10000.0 / sum(cnt)) / 10000.0
             AS max_key_share,
           CAST(ceil(max(cnt) * count(*) * 1.0 / sum(cnt)) AS BIGINT)
             AS recommended_salt
    FROM per_key
    """,
    "Shuffle-skew diagnostics for a join/agg key — the pre-flight "
    "check before the salted-join / AQE-skew levers in "
    "pkg/operators/scale.py: per-key counts in one aggregate, then "
    "hottest-key share and the salt factor (max/avg ratio, ceil) "
    "that would level it. Integer-exact except the floor-stabilized "
    "share",
    ("scale", "skew", "diagnostics", "lineitem"),
)
def skew_diagnostics_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count("*").alias("cnt"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.sum("cnt").alias("n_rows"),
        (
            F.floor(F.max("cnt") * 10000.0 / F.sum("cnt")) / 10000.0
        ).alias("max_key_share"),
        F.ceil(F.max("cnt") * F.count("*") * 1.0 / F.sum("cnt"))
        .cast("long")
        .alias("recommended_salt"),
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

    from ..sources.tables import load_events_stream

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


def _bpe_chain_ctes(num_merges: int = 25) -> str:
    """Generated CTE chain replaying BPE training EXACTLY: ``wt0`` is
    the char-split word-frequency table; each round r derives the
    weighted adjacent-pair counts, arg-maxes (count desc, pair asc —
    the trainer's total order), and applies the merge left-to-right
    non-overlapping. Overlapping matches only arise when left==right,
    where the trainer takes odd positions within each run of
    consecutive matches — expressed as gaps-and-islands windows
    (island = i − row_number over matches; take odd in-island ranks;
    a taken position consumes its right neighbor via lag). Early
    stop (no pair with weighted count ≥ 2) makes ``m{r}`` empty and
    every later round a no-op, exactly like the trainer's break."""
    parts = [
        """wt0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt,
             string_split(w, '') AS syms
      FROM (SELECT unnest(list_filter(
                     string_split_regex(lower(text), '\\s+'),
                     x -> x <> '')) AS w
            FROM documents)
      GROUP BY w
    )"""
    ]
    for r in range(1, num_merges + 1):
        p = r - 1
        parts.append(f"""pr{r} AS (
      SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n
      FROM (
        SELECT cnt, syms[i] AS l, syms[i + 1] AS r
        FROM (SELECT cnt, syms,
                     unnest(generate_series(1, len(syms) - 1)) AS i
              FROM wt{p} WHERE len(syms) >= 2)
      )
      GROUP BY 1, 2
    ),
    m{r} AS MATERIALIZED (
      SELECT l, r, n FROM pr{r} WHERE n >= 2
      ORDER BY n DESC, l ASC, r ASC LIMIT 1
    ),
    pos{r} AS (
      SELECT w, cnt, syms, l, r,
             unnest(generate_series(1, len(syms))) AS i
      FROM (SELECT t.w, t.cnt, t.syms, m.l, m.r
            FROM wt{p} t LEFT JOIN m{r} m ON TRUE)
    ),
    mt{r} AS (
      SELECT w, cnt, i, syms[i] AS sym, l || r AS mg,
             (l IS NOT NULL AND i < len(syms)
              AND syms[i] = l AND syms[i + 1] = r) AS mt
      FROM pos{r}
    ),
    isl{r} AS (
      SELECT *, CASE WHEN mt THEN
          i - row_number() OVER (PARTITION BY w, mt ORDER BY i)
        END AS g
      FROM mt{r}
    ),
    tk{r} AS (
      SELECT *, CASE WHEN mt THEN
          row_number() OVER (PARTITION BY w, g ORDER BY i) % 2 = 1
        ELSE FALSE END AS taken
      FROM isl{r}
    ),
    ap{r} AS (
      SELECT w, cnt, i, sym, mg, taken,
             coalesce(lag(taken) OVER (PARTITION BY w ORDER BY i),
                      FALSE) AS consumed
      FROM tk{r}
    ),
    wt{r} AS MATERIALIZED (
      SELECT w, any_value(cnt) AS cnt,
             list(CASE WHEN taken THEN mg ELSE sym END ORDER BY i)
               FILTER (WHERE NOT consumed) AS syms
      FROM ap{r} GROUP BY w
    )""")
    return ",\n    ".join(parts)


_BPE_ROUNDS = 25


def _bpe_merges_oracle() -> str:
    finals = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, l AS \"left\","
        f" r AS \"right\", n AS pair_count FROM m{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_bpe_chain_ctes(_BPE_ROUNDS)}
    SELECT * FROM ({finals})
    """


def _bpe_token_counts_oracle() -> str:
    return f"""
    WITH {_bpe_chain_ctes(_BPE_ROUNDS)},
    final_len AS (SELECT w, len(syms) AS n FROM wt{_BPE_ROUNDS}),
    docw AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '\\s+'),
               x -> x <> '')) AS w
      FROM documents
    ),
    perdoc AS (
      SELECT d.doc_id, f.n FROM docw d JOIN final_len f USING (w)
    )
    SELECT dd.doc_id,
           CAST(coalesce(sum(p.n), 0) AS INTEGER) AS n_bpe_tokens,
           CAST(count(p.n) AS INTEGER) AS n_words
    FROM documents dd LEFT JOIN perdoc p ON p.doc_id = dd.doc_id
    GROUP BY 1
    """


# The three BPE queries (merges, token counts, fertility) all train
# the SAME 25-round merge table over the same corpus; the trainer is
# the cost (60+ stage-jobs of pair-count rounds), the downstream
# encode is one Arrow pass. Guide §5 (reused AND expensive): the
# merge table is the shared intermediate — Heaps-law sized (25 rows
# here), so the leg is KB-sized while the saved recompute is the
# whole trainer. It is served through the shared-leg cache like the
# ngram pair leg: any corpus-file or package-source change re-trains.
_BPE_LEG_PARAMS = dict(num_merges=25)


def _train_bpe_merges(docs):
    from ..functions import bpe as _bpe

    return _bpe.merges_df(
        docs.sparkSession, _bpe.bpe_train(docs, "text", **_BPE_LEG_PARAMS)
    )


def _bpe_merges_leg(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _legs.leg(spark, docs, _train_bpe_merges)


def _bpe_merges_list(spark, sf_dir):
    """The learned merges as the [(left, right, count), ...] list
    ``bpe_encode`` consumes — collected from the (25-row) leg in
    merge_rank order, so a cache hit reproduces the trainer's exact
    rule order."""
    return [
        (r["left"], r["right"], r["pair_count"])
        for r in _bpe_merges_leg(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]


@_register(
    "bpe_merges_documents",
    _bpe_merges_oracle(),
    "REAL BPE tokenizer training (Sennrich et al. 2016), distributed: "
    "one corpus pass reduces to the word-frequency table (Heaps-law "
    "sized, never corpus-sized), then each merge round is an in-row "
    "adjacent-pair explode + weighted count (one #pairs-sized "
    "shuffle) and an Arrow-batched merge application with zero "
    "shuffle; ties broken (count desc, pair asc) so the merge "
    "sequence is total-order deterministic. Returns the learned "
    "merge table. ORACLE (new in r4, was rows-only): the DuckDB twin "
    "replays ALL 25 training rounds as a generated CTE chain "
    "(_bpe_chain_ctes — weighted pair counts, the same argmax total "
    "order, gaps-and-islands left-to-right merge application, "
    "empty-m{r} early stop) and the merge tables must match exactly",
    ("text", "bpe", "tokenizer", "training", "documents"),
)
def bpe_merges_documents(spark, sf_dir):
    return _bpe_merges_leg(spark, sf_dir)


@_register(
    "bpe_token_counts_documents",
    _bpe_token_counts_oracle(),
    "Corpus tokenization with the corpus-trained BPE: broadcast the "
    "learned merge ranks, apply greedy-by-rank merging per word in "
    "one mapInPandas pass (zero shuffle). Returns per-doc BPE-token "
    "and word counts — the real sequence-length accounting a "
    "packing/sharding stage consumes. ORACLE (new in r4, was rows-"
    "only): greedy-by-rank encoding equals the training fixpoint — "
    "one left-to-right pass removes every (l,r) adjacency, and new "
    "adjacencies always involve the just-created symbol, hence only "
    "higher ranks — so the twin reuses the training CTE chain's "
    "final word table and sums per-word symbol counts per doc",
    ("text", "bpe", "tokenizer", "documents"),
)
def bpe_token_counts_documents(spark, sf_dir):
    from ..functions.bpe import bpe_encode

    d = _t(spark, sf_dir, "documents")
    merges = _bpe_merges_list(spark, sf_dir)
    return bpe_encode(d, merges, id_col="doc_id", text_col="text")


def _pretrain_funnel_oracle() -> str:
    return f"""
    WITH b2 AS (
      SELECT doc_id, source, lang, text,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n_tok
      FROM documents
    ),
    s1 AS (SELECT * FROM b2 WHERE lang = 'en' AND source <> 'src0'),
    s2 AS (
      SELECT * FROM s1
      WHERE n_tok >= 5
        AND len(list_filter(toks, x -> list_contains({{stops}}, x))) * 1.0
            / greatest(n_tok, 1) <= 0.5
    ),
    s3 AS (
      SELECT * FROM s2
      QUALIFY row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id) = 1
    ),
    g3 AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i
            FROM s3)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM g3 GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
      FROM g3 a JOIN g3 b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    drop4 AS (
      SELECT DISTINCT ib AS doc_id
      FROM pairs
      JOIN cnt ca ON ca.doc_id = ia
      JOIN cnt cb ON cb.doc_id = ib
      WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
    ),
    s4 AS (SELECT * FROM s3
           WHERE doc_id NOT IN (SELECT doc_id FROM drop4)),
    bench AS (
      SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               || ' ' || toks[i+3] || ' ' || toks[i+4] AS g
      FROM (SELECT toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
            FROM b2 WHERE source = 'src0')
    ),
    g5 AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               || ' ' || toks[i+3] || ' ' || toks[i+4] AS g
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i
            FROM s4)
    ),
    drop5 AS (SELECT DISTINCT doc_id FROM g5 JOIN bench USING (g)),
    s5 AS (SELECT * FROM s4
           WHERE doc_id NOT IN (SELECT doc_id FROM drop5))
    SELECT * FROM (
      SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM b2
      UNION ALL SELECT '1_lang', count(*), CAST(sum(n_tok) AS BIGINT) FROM s1
      UNION ALL SELECT '2_quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM s2
      UNION ALL SELECT '3_exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM s3
      UNION ALL SELECT '4_near_dup', count(*), CAST(sum(n_tok) AS BIGINT) FROM s4
      UNION ALL SELECT '5_decontaminated', count(*), CAST(sum(n_tok) AS BIGINT) FROM s5
    )
    """.replace("{stops}", _STOP_SQL)


@_register(
    "pretrain_funnel_report",
    _pretrain_funnel_oracle(),
    "THE end-to-end pretraining-corpus funnel, one query: language "
    "gate → Gopher-style quality gate (≥5 tokens, stopword ratio "
    "≤0.5) → exact dedup (normalized-md5, keep lowest id) → exact "
    "3-gram-Jaccard near-dup removal (t=0.5, drop the larger id of "
    "every qualifying pair) → benchmark decontamination (any shared "
    "5-gram with the held-out source). Emits the per-stage doc/token "
    "funnel the data-engineering report needs. Every stage reuses an "
    "independently-oracle-checked operator; text never shuffles — "
    "hashes and gram keys do",
    ("text", "dedup", "pipeline", "training", "documents", "flagship"),
)
def pretrain_funnel_report(spark, sf_dir):
    from ..functions.text import word_ngrams
    from ..operators.dedup import ngram_jaccard_pairs as _njp

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.size(tokens("text")).alias("n_tok"),
    )
    s1 = base.filter((F.col("lang") == "en") & (F.col("source") != "src0"))
    s2 = s1.filter(
        (F.col("n_tok") >= 5) & (stopword_ratio("text") <= 0.5)
    )
    w = Window.partitionBy(content_fingerprint(F.col("text"))).orderBy(
        "doc_id"
    )
    s3 = (
        s2.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    pairs = _njp(s3, "text", "doc_id", shingle_n=3, threshold=0.5)
    drop4 = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    s4 = s3.join(drop4, "doc_id", "left_anti")
    bench = (
        base.filter(F.col("source") == "src0")
        .select(F.explode(word_ngrams(F.col("text"), 5)).alias("g"))
        .distinct()
    )
    g5 = s4.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 5)).alias("g")
    )
    drop5 = g5.join(bench, "g", "left_semi").select("doc_id").distinct()
    s5 = s4.join(drop5, "doc_id", "left_anti")

    def stage(df, name):
        return df.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        ).select(F.lit(name).alias("stage"), "n_docs", "n_tokens")

    out = stage(base, "0_all")
    for df, name in [
        (s1, "1_lang"),
        (s2, "2_quality"),
        (s3, "3_exact_dedup"),
        (s4, "4_near_dup"),
        (s5, "5_decontaminated"),
    ]:
        out = out.unionAll(stage(df, name))
    return out


@_register(
    "bigram_surprisal_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    bi AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM toks WHERE len(w) >= 2)
    ),
    c1 AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS f1
      FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1
    ),
    v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
    c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS f2 FROM bi GROUP BY 1, 2
    ),
    per_doc_type AS (
      SELECT bi.doc_id, bi.w1, bi.w2,
             CAST(count(*) AS BIGINT) AS m,
             -log2((c2.f2 + 0.5) / (c1.f1 + 0.5 * v.v)) AS s
      FROM bi
      JOIN c2 ON c2.w1 = bi.w1 AND c2.w2 = bi.w2
      JOIN c1 ON c1.tok = bi.w1
      CROSS JOIN v
      GROUP BY bi.doc_id, bi.w1, bi.w2, c2.f2, c1.f1, v.v
    )
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(sum(m * s) / sum(m), 4) + 0.0 AS avg_surprisal_bits,
           round(max(s), 4) + 0.0 AS max_surprisal_bits
    FROM per_doc_type GROUP BY doc_id
    """,
    "Bigram-LM surprisal per document (one step up from the unigram "
    "filter toward the CCNet LM-perplexity gate): corpus-wide "
    "add-half-smoothed P(w₂|w₁) from bigram/unigram counts, per-doc "
    "mean/max −log₂p. Bigrams are extracted IN-ROW (transform over "
    "the token array — zero shuffle for pair generation); per-doc "
    "stats are weighted by per-doc bigram-type multiplicity so both "
    "engines sum in the same shape. Conditional surprisal separates "
    "locally-coherent text from bag-of-frequent-words spam that "
    "fools the unigram score",
    ("text", "quality", "documents", "lm"),
)
def bigram_surprisal_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks_arr = d.select("doc_id", tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    bi = toks_arr.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i-1] AS w1, w[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    uni = toks_arr.select(F.explode("w").alias("tok"))
    c1 = uni.groupBy("tok").agg(F.count("*").alias("f1"))
    v = c1.agg(F.count("*").alias("v"))
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("f2"))
    per_doc_type = (
        bi.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("m"))
        .join(c2, ["w1", "w2"])
        .join(
            F.broadcast(c1.withColumnRenamed("tok", "w1")), "w1"
        )
        .crossJoin(F.broadcast(v))
        .withColumn(
            "s",
            -F.log2(
                (F.col("f2") + 0.5) / (F.col("f1") + 0.5 * F.col("v"))
            ),
        )
    )
    return per_doc_type.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        (F.round(F.sum(F.col("m") * F.col("s")) / F.sum("m"), 4) + F.lit(0.0)).alias(
            "avg_surprisal_bits"
        ),
        (F.round(F.max("s"), 4) + F.lit(0.0)).alias("max_surprisal_bits"),
    )


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
    "`pca_variance_match_floor` (registry54) additionally pins "
    "component variance ≡ eigenvalue to 1e-6",
    ("embeddings", "linalg", "pca", "pandas_udf"),
)
def pca_project_embeddings(spark, sf_dir):
    from ..operators.linalg import pca_fit_project

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

    from ..sources.tables import load_table_stream
    from ..streaming.ivm import JoinView, write_streams_to_join_view

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


# Round-2 additions register themselves on import (must precede the
# accessors' first call; the import sits here so every helper above is
# already defined when registry2 pulls them in).
from . import registry2  # noqa: E402,F401  isort:skip
from . import registry3  # noqa: E402,F401  isort:skip
from . import registry4  # noqa: E402,F401  isort:skip
from . import registry5  # noqa: E402,F401  isort:skip
from . import registry6  # noqa: E402,F401  isort:skip
from . import registry7  # noqa: E402,F401  isort:skip
from . import registry8  # noqa: E402,F401  isort:skip
from . import registry9  # noqa: E402,F401  isort:skip
from . import registry10  # noqa: E402,F401  isort:skip
from . import registry11  # noqa: E402,F401  isort:skip
from . import registry12  # noqa: E402,F401  isort:skip
from . import registry13  # noqa: E402,F401  isort:skip
from . import registry14  # noqa: E402,F401  isort:skip
from . import registry15  # noqa: E402,F401  isort:skip
from . import registry16  # noqa: E402,F401  isort:skip
from . import registry17  # noqa: E402,F401  isort:skip
from . import registry18  # noqa: E402,F401  isort:skip
from . import registry19  # noqa: E402,F401  isort:skip
from . import registry20  # noqa: E402,F401  isort:skip
from . import registry21  # noqa: E402,F401  isort:skip
from . import registry22  # noqa: E402,F401  isort:skip
from . import registry23  # noqa: E402,F401  isort:skip
from . import registry24  # noqa: E402,F401  isort:skip
from . import registry25  # noqa: E402,F401  isort:skip
from . import registry26  # noqa: E402,F401  isort:skip
from . import registry27  # noqa: E402,F401  isort:skip
from . import registry28  # noqa: E402,F401  isort:skip
from . import registry29  # noqa: E402,F401  isort:skip
from . import registry30  # noqa: E402,F401  isort:skip
from . import registry31  # noqa: E402,F401  isort:skip
from . import registry32  # noqa: E402,F401  isort:skip
from . import registry33  # noqa: E402,F401  isort:skip
from . import registry34  # noqa: E402,F401  isort:skip
from . import registry35  # noqa: E402,F401  isort:skip
from . import registry36  # noqa: E402,F401  isort:skip
from . import registry37  # noqa: E402,F401  isort:skip
from . import registry38  # noqa: E402,F401  isort:skip
from . import registry39  # noqa: E402,F401  isort:skip
from . import registry40  # noqa: E402,F401  isort:skip
from . import registry41  # noqa: E402,F401  isort:skip
from . import registry42  # noqa: E402,F401  isort:skip
from . import registry43  # noqa: E402,F401  isort:skip
from . import registry44  # noqa: E402,F401  isort:skip
from . import registry45  # noqa: E402,F401  isort:skip
from . import registry46  # noqa: E402,F401  isort:skip
from . import registry47  # noqa: E402,F401  isort:skip
from . import registry48  # noqa: E402,F401  isort:skip
from . import registry49  # noqa: E402,F401  isort:skip
from . import registry50  # noqa: E402,F401  isort:skip
from . import registry51  # noqa: E402,F401  isort:skip
from . import registry52  # noqa: E402,F401  isort:skip
from . import registry53  # noqa: E402,F401  isort:skip
from . import registry54  # noqa: E402,F401  isort:skip
from . import registry55  # noqa: E402,F401  isort:skip
from . import registry56  # noqa: E402,F401  isort:skip
from . import registry57  # noqa: E402,F401  isort:skip
from . import registry58  # noqa: E402,F401  isort:skip
from . import registry59  # noqa: E402,F401  isort:skip

# ---------------------------------------------------------------------------
# public accessors (driver contract)
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.builder for q in REGISTRY}


def oracle_sql() -> dict[str, str]:
    out = {}
    for q in REGISTRY:
        if q.oracle is None:
            continue
        sql = resolve_oracle(q)
        if sql is not None:
            out[q.name] = sql
    return out
