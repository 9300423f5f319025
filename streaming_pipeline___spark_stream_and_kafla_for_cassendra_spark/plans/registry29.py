"""Round-3 registry additions, batch 16 — LRU cache-hit simulation
over per-customer access sequences, and apriori-pruned frequent
item triples.

Same contract as ``registry.py``. Imported at the bottom of
``registry.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import _register, _t


def _r6(col):
    return F.floor(col * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


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


# ---------------------------------------------------------------------------
# Apriori-pruned frequent item triples (the step beyond pair mining)
# ---------------------------------------------------------------------------

_TRIPLE_MIN_SUPPORT = 2


@_register(
    "market_basket_triples",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs_all AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q,
             CAST(count(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_TRIPLE_MIN_SUPPORT}
    ),
    pairs AS (
      -- 20k cap (support desc, keys asc) bounds the candidate
      -- self-join on 10x-denser corpora; a no-op at current SFs
      SELECT p, q FROM (
        SELECT p, q, row_number() OVER (ORDER BY w DESC, p, q) AS rk
        FROM pairs_all
      ) WHERE rk <= 20000
    ),
    cand AS (
      -- apriori: a frequent triple requires ALL THREE sub-pairs
      -- frequent; joining (p,q)+(p,r) then checking (q,r) prunes
      -- the candidate space before ever touching baskets again
      SELECT x.p AS a, x.q AS b, y.q AS c
      FROM pairs x
      JOIN pairs y ON y.p = x.p AND y.q > x.q
      JOIN pairs z ON z.p = x.q AND z.q = y.q
    ),
    support AS (
      SELECT cd.a, cd.b, cd.c, CAST(count(*) AS BIGINT) AS support
      FROM cand cd
      JOIN items ia ON ia.l_partkey = cd.a
      JOIN items ib ON ib.l_orderkey = ia.l_orderkey
                   AND ib.l_partkey = cd.b
      JOIN items ic ON ic.l_orderkey = ia.l_orderkey
                   AND ic.l_partkey = cd.c
      GROUP BY 1, 2, 3
      HAVING count(*) >= {_TRIPLE_MIN_SUPPORT}
    )
    SELECT a AS part_a, b AS part_b, c AS part_c, support
    FROM support
    """,
    "Frequent item TRIPLES with apriori candidate pruning — the "
    "step beyond `market_basket_pairs` that demonstrates why "
    "frequent-itemset mining scales at all: a triple can only be "
    f"frequent (support >= {_TRIPLE_MIN_SUPPORT}) if all three of "
    "its sub-pairs are, so candidates come from self-joining the "
    "pruned pair list and checking the third edge BEFORE any "
    "basket re-scan — the downward-closure property that turns an "
    "O(n^3) enumeration into joins on an already-tiny frequent-"
    "pair table. Support counting then probes the basket index "
    "once per candidate. All integer counts; order-keyed joins "
    "bound the fan-out by basket size.",
    ("mining", "itemsets", "lineitem"),
)
def market_basket_triples(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").dropDuplicates(
    ).localCheckpoint(eager=False)
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("q"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _TRIPLE_MIN_SUPPORT)
        # TakeOrdered 20k cap bounds the apriori candidate self-join
        # on 10x-denser corpora (no-op today)
        .orderBy(F.col("cnt").desc(), F.col("p").asc(), F.col("q").asc())
        .limit(20000)
        .select("p", "q")
        .localCheckpoint(eager=False)
    )
    x = pairs.select(F.col("p").alias("xa"), F.col("q").alias("xb"))
    y = pairs.select(F.col("p").alias("ya"), F.col("q").alias("yc"))
    z = pairs.select(F.col("p").alias("za"), F.col("q").alias("zc"))
    cand = (
        x.join(y, (F.col("ya") == F.col("xa")) & (F.col("yc") > F.col("xb")))
        .join(
            z,
            (F.col("za") == F.col("xb")) & (F.col("zc") == F.col("yc")),
        )
        .select(
            F.col("xa").alias("a"),
            F.col("xb").alias("b"),
            F.col("yc").alias("c"),
        )
    )
    ia = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ka"))
    ib = items.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("kb"))
    ic = items.select(F.col("l_orderkey").alias("ok3"), F.col("l_partkey").alias("kc"))
    support = (
        cand.join(ia, F.col("ka") == F.col("a"))
        .join(
            ib,
            (F.col("ok2") == F.col("ok")) & (F.col("kb") == F.col("b")),
        )
        .join(
            ic,
            (F.col("ok3") == F.col("ok")) & (F.col("kc") == F.col("c")),
        )
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _TRIPLE_MIN_SUPPORT)
    )
    return support.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("c").alias("part_c"),
        F.col("support").cast("long").alias("support"),
    )
