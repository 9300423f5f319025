"""Graph analytics over the nation trade and co-purchase graphs:
PageRank, BFS, k-core, label propagation, centrality, community and
robustness measures, Markov attribution and TextRank, each with an
exactly unrolled oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...core import _r6, _register, _t


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
    from ....operators.graph import pagerank

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
    from ....operators.graph import kcore

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


# ---------------------------------------------------------------------------
# Graph: local clustering coefficient
# ---------------------------------------------------------------------------

@_register(
    "clustering_coefficient_nations",
    """
    WITH trade AS (
      SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                      greatest(c.c_nationkey, s.s_nationkey) AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM trade UNION ALL SELECT b FROM trade
      ) GROUP BY 1
    ),
    tris AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM trade e1
      JOIN trade e2 ON e1.b = e2.a
      JOIN trade e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    node_tri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
      ) GROUP BY 1
    )
    SELECT d.node AS nationkey, d.degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree > 1 THEN
             floor(2.0 * coalesce(t.n_triangles, 0)
                   / (d.degree * (d.degree - 1)) * 1000000 + 0.5) / 1000000.0
           ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN node_tri t ON d.node = t.node
    """,
    "Local clustering coefficient per nation on the trade graph "
    "(same canonical a<b edge set as the triangle counter): each "
    "triangle from the ordered 3-way self-join credits its three "
    "corners, coefficient = 2·T(v) / (deg(v)·(deg(v)−1)). Degrees "
    "and per-node triangle counts are node-sized aggregates; floats "
    "derive from integer counts only. Completes the graph suite "
    "(pagerank, components, BFS, k-core, triangles → coefficients)",
    ("graph", "join", "agg"),
)
def clustering_coefficient_nations(spark, sf_dir):
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
        # the edge list is referenced 7× below (degree + three
        # triangle roles + corner unions); checkpoint so the 4-table
        # fact join runs ONCE, not per reference
        .localCheckpoint(eager=False)
    )
    deg = (
        trade.select(F.col("a").alias("node"))
        .unionAll(trade.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    e1, e2, e3 = trade.alias("e1"), trade.alias("e2"), trade.alias("e3")
    tris = e1.join(e2, F.col("e1.b") == F.col("e2.a")).join(
        e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b"))
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    node_tri = (
        tris.select(F.col("x").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    joined = deg.join(node_tri, "node", "left").select(
        F.col("node").alias("nationkey"),
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )
    coeff = F.when(
        F.col("degree") > 1,
        _r6(
            F.lit(2.0)
            * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1))
        ),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "nationkey", "degree", "n_triangles", coeff.alias("clustering_coeff")
    )


# ---------------------------------------------------------------------------
# Label propagation communities on the nation trade graph
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle(tail: str | None = None) -> str:
    """Unrolled synchronous label-propagation CTE chain (same shape as
    the pagerank oracle): each round every node adopts the label with
    the greatest incident edge weight among its neighbors' current
    labels (tie → smallest label), starting from label = own id.
    ``tail`` replaces the final SELECT (it sees lab{N} and sym) so
    derived metrics (modularity) can reuse the identical chain."""
    sql = """
    WITH edges_raw AS (
      SELECT c.c_nationkey AS u, s.s_nationkey AS v,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT u, v, w FROM edges_raw
      UNION ALL
      SELECT v, u, w FROM edges_raw
    ),
    sym AS MATERIALIZED (
      SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM edges GROUP BY 1, 2
    ),
    lab0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)
    """
    for r in range(1, _LPA_ROUNDS + 1):
        sql += f""",
    vote{r} AS (
      SELECT s.u AS node, l.label,
             CAST(sum(s.w) AS BIGINT) AS wt
      FROM sym s JOIN lab{r - 1} l ON l.node = s.v
      GROUP BY 1, 2
    ),
    lab{r} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY wt DESC, label ASC) AS rk
        FROM vote{r}
      ) WHERE rk = 1
    )
    """
    if tail is not None:
        return sql + tail
    sql += f"""
    SELECT CAST(node AS INTEGER) AS nationkey,
           CAST(label AS INTEGER) AS community
    FROM lab{_LPA_ROUNDS}
    """
    return sql


@_register(
    "label_propagation_nations",
    _lpa_oracle(),
    "Community detection by synchronous label propagation on the "
    "weighted nation-to-nation trade graph (customer nation ↔ "
    "supplier nation, edge weight = shared lineitems): 4 fixed "
    "rounds, every node adopting the neighbor label with the largest "
    "incident weight (tie → smallest label) — fully deterministic, "
    "unlike the async random-order LPA. Each round is one edges-keyed "
    "join + one (node,label) aggregate + one argmax window, the same "
    "bounded-round pattern as the pagerank/k-core operators; the "
    "oracle unrolls the identical recurrence as a CTE chain. Edge "
    "weights and votes are exact integers, so every round is "
    "bit-deterministic at any parallelism.",
    ("graph", "community", "lineitem"),
)
def label_propagation_nations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count("*").alias("w"))
    )
    sym = (
        raw.select("u", "v", "w")
        .unionAll(raw.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    # 25 nodes / ~600 integer-weighted edges after one fact scan: the
    # 4 fixed LPA rounds ran distributed (broadcast join + window per
    # round — a dozen tiny stage-jobs of scheduling at any input
    # size, measured round 8). All-integer votes with a total-order
    # tie-break (weight desc, label asc) make the driver loop
    # bit-exact by construction.
    adj: dict[int, list[tuple[int, int]]] = {}
    for row in sym.collect():
        adj.setdefault(row["u"], []).append((row["v"], row["w"]))
    labels = {u: u for u in adj}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for u, nbrs in adj.items():
            wt: dict[int, int] = {}
            for v, w in nbrs:
                lbl = labels[v]
                wt[lbl] = wt.get(lbl, 0) + w
            nxt[u] = min(wt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    return spark.createDataFrame(
        sorted(labels.items()), "nationkey int, community int"
    )


_PR_ITERS = 8


def _pagerank_oracle(iters: int = _PR_ITERS) -> str:
    """Unrolled PageRank twin: DuckDB disallows aggregation in a
    recursive term, so the fixed iteration count is unrolled into
    ``iters`` CTE layers. Every float op is pinned: per-node incoming
    contributions fold in src order (list_reduce ≡ F.aggregate over
    an array_sort'ed collect_list), and literals are cast to DOUBLE
    so DuckDB's DECIMAL literals can't change the arithmetic."""
    edge_cte = """
    e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
    inw AS (SELECT dst, CAST(count(*) AS BIGINT) AS ie FROM e GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r
           FROM nodes CROSS JOIN nn)"""
    layers = []
    for i in range(iters):
        layers.append(f"""
    r{i + 1} AS (
      SELECT nd.node,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(f.inc, 0.0) AS r
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               list_reduce(list_prepend(0.0,
                 list(p.r * e.w / ow.ow ORDER BY e.src)),
                 (a, b) -> a + b) AS inc
        FROM e
        JOIN r{i} p ON p.node = e.src
        JOIN outw ow ON ow.src = e.src
        GROUP BY e.dst
      ) f ON f.node = nd.node
    )""")
    return (
        "    WITH"
        + edge_cte
        + ","
        + ",".join(layers)
        + f"""
    SELECT n.n_name AS nation,
           floor(r{iters}.r * 1000000 + 0.5) / 1000000.0 AS pagerank,
           CAST(coalesce(ow.ow, 0) AS BIGINT) AS out_trade_weight,
           CAST(coalesce(iw.ie, 0) AS BIGINT) AS in_edges
    FROM r{iters}
    JOIN nation n ON n.n_nationkey = r{iters}.node
    LEFT JOIN outw ow ON ow.src = r{iters}.node
    LEFT JOIN inw iw ON iw.dst = r{iters}.node
    """
    )


@_register(
    "pagerank_nation_trade",
    _pagerank_oracle(),
    "Weighted PageRank over the nation trade graph (customer nation → "
    "supplier nation, edge weight = lineitem count, damping 0.85, "
    f"{_PR_ITERS} fixed iterations): the graph-centrality operator "
    "completing the BFS / connected-components / k-core / label-"
    "propagation / clustering-coefficient family. Per-iteration plan "
    "is one edge⋈rank join + one dst-keyed aggregate (shuffles keyed "
    "on node, lineage pinned with localCheckpoint like the CC "
    "operators); incoming contributions fold in src order so every "
    "double matches DuckDB's unrolled-CTE twin bit-for-bit. The "
    "fixture graph has no dangling nodes (all 25 nations export), "
    "so no teleport-mass correction is needed",
    ("graph", "pagerank", "iterative", "lineitem"),
)
def pagerank_nation_trade(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=False)
    )
    # One fact scan builds the ≤ nation² weighted edge list; the
    # PageRank iterations over that bounded graph ran distributed
    # (~60 tiny AQE stage-jobs of pure scheduling — measured round 8)
    # and are now a driver loop with the identical src-sorted
    # contribution fold: same IEEE-754 ops in the same order, so
    # every double is bit-identical to the distributed form and the
    # unrolled-CTE oracle. Node/edge counts bound the driver work
    # (graph nodes, never rows).
    import math

    rows = e.collect()
    out_w: dict[int, int] = {}
    in_edges_cnt: dict[int, int] = {}
    incoming: dict[int, list[tuple[int, int]]] = {}
    for row in rows:
        src, dst, w = row["src"], row["dst"], row["w"]
        out_w[src] = out_w.get(src, 0) + w
        in_edges_cnt[dst] = in_edges_cnt.get(dst, 0) + 1
        incoming.setdefault(dst, []).append((src, w))
    nodes_l = sorted(out_w)
    nf = float(len(nodes_l))
    rank = {u: 1.0 / nf for u in nodes_l}
    for _ in range(_PR_ITERS):
        nxt = {}
        for node in nodes_l:
            inc = 0.0
            for src, w in sorted(incoming.get(node, [])):
                inc = inc + rank[src] * w / out_w[src]
            nxt[node] = 0.15 / nf + 0.85 * inc
        rank = nxt
    scored = spark.createDataFrame(
        [
            (
                node,
                math.floor(rank[node] * 1000000 + 0.5) / 1000000.0,
                out_w[node],
                in_edges_cnt.get(node, 0),
            )
            for node in nodes_l
        ],
        "node int, pagerank double, out_trade_weight long, "
        "in_edges long",
    )
    return scored.join(
        F.broadcast(n), scored.node == F.col("n_nationkey")
    ).select(
        F.col("n_name").alias("nation"),
        "pagerank",
        "out_trade_weight",
        "in_edges",
    )


_MK_ITERS = 16


def _markov_conv_oracle(iters: int = _MK_ITERS) -> str:
    """Unrolled value-iteration twin (no aggregates allowed in a
    DuckDB recursive term): every probability is an integer-count
    ratio, every fold is t-ordered, every literal DOUBLE-cast."""
    head = """
    seq AS (
      SELECT user_id, event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
               AS t
      FROM events
    ),
    pairs AS (SELECT s, coalesce(t, '__END__') AS t FROM seq
              WHERE s <> 'purchase'),
    cnt AS (SELECT s, t, CAST(count(*) AS BIGINT) AS n
            FROM pairs GROUP BY 1, 2),
    outs AS (SELECT s, CAST(sum(n) AS BIGINT) AS o FROM cnt GROUP BY 1),
    states AS (SELECT DISTINCT s FROM cnt),
    v0 AS (SELECT s, CAST(0.0 AS DOUBLE) AS v FROM states)"""
    layers = []
    for i in range(iters):
        layers.append(f"""
    v{i + 1} AS (
      SELECT st.s, coalesce(f.val, 0.0) AS v
      FROM states st LEFT JOIN (
        SELECT c.s,
               list_reduce(list_prepend(0.0,
                 list((CAST(c.n AS DOUBLE) / o.o)
                      * CASE WHEN c.t = 'purchase' THEN CAST(1.0 AS DOUBLE)
                             WHEN c.t = '__END__' THEN CAST(0.0 AS DOUBLE)
                             ELSE coalesce(p.v, 0.0) END
                      ORDER BY c.t)),
                 (a, b) -> a + b) AS val
        FROM cnt c
        JOIN outs o ON o.s = c.s
        LEFT JOIN v{i} p ON p.s = c.t
        GROUP BY c.s
      ) f ON f.s = st.s
    )""")
    return (
        "    WITH"
        + head
        + ","
        + ",".join(layers)
        + f"""
    SELECT v{iters}.s AS state,
           o.o AS n_transitions,
           floor(coalesce(
             (SELECT CAST(c2.n AS DOUBLE) / o.o FROM cnt c2
              WHERE c2.s = v{iters}.s AND c2.t = 'purchase'), 0.0)
             * 1000000 + 0.5) / 1000000.0 AS p_direct,
           floor(v{iters}.v * 1000000 + 0.5) / 1000000.0 AS conv_prob
    FROM v{iters} JOIN outs o ON o.s = v{iters}.s
    """
    )


@_register(
    "markov_conversion_probability",
    _markov_conv_oracle(),
    "Absorbing-Markov-chain conversion probability per event state — "
    "the principled companion to last-touch / position-based "
    "attribution: consecutive same-user events form a first-order "
    "chain, 'purchase' absorbs with value 1, sequence end absorbs "
    f"with 0, and {_MK_ITERS} fixed value-iteration steps give each "
    "transient state its eventual-conversion probability. "
    "Transition probabilities are exact integer-count ratios; the "
    "per-state expectation folds in next-state order, so all "
    f"{_MK_ITERS} iterations bit-match DuckDB's unrolled-CTE twin. "
    "Plan: one user-keyed lead window + a states²-sized iteration "
    "(state space = event types, never rows)",
    ("graph", "markov", "attribution", "iterative", "events"),
)
def markov_conversion_probability(spark, sf_dir):
    import math

    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    )
    pairs = seq.filter(F.col("s") != "purchase").select(
        "s", F.coalesce(F.col("t"), F.lit("__END__")).alias("t")
    )
    cnt = pairs.groupBy("s", "t").agg(F.count("*").alias("n"))
    # The chain's state space is the event-type enum — states², not
    # rows, and the transition table is one map-side-combinable
    # count aggregate. The 16 value-iteration steps over that tiny
    # table used to run distributed (16 joins + 16 checkpointed
    # folds = ~100 AQE stage-jobs, 4-6 s of pure scheduling at any
    # input size — measured round 8). They are a driver-side loop
    # over ≤ states² doubles: same IEEE-754 ops in the same t-sorted
    # fold order, so the result is bit-identical to the distributed
    # form and to the unrolled-CTE oracle. Guarded: an unbounded
    # state universe (not an enum) would fall back to the
    # distributed loop rather than collect.
    # LIMIT-bounded decide-then-use (ADVICE r8): collecting at most
    # 4097 rows bounds driver memory BEFORE we know the universe is
    # enum-sized; >4096 rows means non-enum states — take the
    # distributed fallback instead of ever collecting the full table.
    rows = cnt.limit(4097).collect()
    if len(rows) > 4096:
        return _markov_conv_distributed(spark, cnt)
    outs: dict[str, int] = {}
    trans: dict[str, list[tuple[str, int]]] = {}
    n_dir: dict[str, int] = {}
    for r in rows:
        outs[r["s"]] = outs.get(r["s"], 0) + r["n"]
        trans.setdefault(r["s"], []).append((r["t"], r["n"]))
        if r["t"] == "purchase":
            n_dir[r["s"]] = r["n"]
    v = {s: 0.0 for s in trans}
    for _ in range(_MK_ITERS):
        nv = {}
        for s, ts in trans.items():
            acc = 0.0
            for t, n in sorted(ts):
                p = n / outs[s]
                if t == "purchase":
                    term = p * 1.0
                elif t == "__END__":
                    term = p * 0.0
                else:
                    term = p * v.get(t, 0.0)
                acc = acc + term
            nv[s] = acc
        v = nv

    def r6(x: float) -> float:
        return math.floor(x * 1000000 + 0.5) / 1000000.0

    out = [
        (
            s,
            outs[s],
            r6(n_dir[s] / outs[s]) if s in n_dir else 0.0,
            r6(v[s]),
        )
        for s in sorted(trans)
    ]
    return spark.createDataFrame(
        out,
        "state string, n_transitions long, p_direct double, "
        "conv_prob double",
    )


def _markov_conv_distributed(spark, cnt):
    """Distributed value iteration — the fallback when the state
    universe is not enum-sized (never at the fixture scales; kept
    for posture at arbitrary cardinality)."""
    cnt = cnt.localCheckpoint(eager=False)
    outs = cnt.groupBy("s").agg(F.sum("n").alias("o"))
    states = cnt.select("s").distinct()
    ct = cnt.join(outs, "s").select(
        "s", "t", (F.col("n").cast("double") / F.col("o")).alias("p")
    ).localCheckpoint(eager=False)

    v = states.withColumn("v", F.lit(0.0)).localCheckpoint(eager=False)
    for _ in range(_MK_ITERS):
        prev = v.select(F.col("s").alias("ps"), F.col("v").alias("pv"))
        term = ct.join(prev, ct.t == prev.ps, "left").select(
            "s",
            "t",
            (
                F.col("p")
                * F.when(F.col("t") == "purchase", F.lit(1.0))
                .when(F.col("t") == "__END__", F.lit(0.0))
                .otherwise(F.coalesce(F.col("pv"), F.lit(0.0)))
            ).alias("term"),
        )
        folded = term.groupBy("s").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("t", "term"))),
                F.lit(0.0),
                lambda a, x: a + x["term"],
            ).alias("val")
        )
        v = (
            states.join(folded, "s", "left")
            .select("s", F.coalesce(F.col("val"), F.lit(0.0)).alias("v"))
            .localCheckpoint(eager=False)
        )

    direct = cnt.filter(F.col("t") == "purchase").select(
        "s", F.col("n").alias("n_dir")
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    return (
        v.join(outs, "s")
        .join(direct, "s", "left")
        .select(
            F.col("s").alias("state"),
            F.col("o").cast("long").alias("n_transitions"),
            r6(
                F.coalesce(
                    F.col("n_dir").cast("double") / F.col("o"), F.lit(0.0)
                )
            ).alias("p_direct"),
            r6(F.col("v")).alias("conv_prob"),
        )
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction on the co-purchase graph
# ---------------------------------------------------------------------------

@_register(
    "adamic_adar_link_prediction",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges_all AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    edges AS (
      -- 20k-edge cap (weight desc, keys asc): a 10x-denser corpus
      -- multiplies qualifying edges and the common-neighbor join is
      -- quadratic in hub degree — the cap bounds the graph at any
      -- scale (a no-op at current SFs, ~3.5k edges qualify)
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (ORDER BY w DESC, src, dst) AS rk
        FROM edges_all
      ) WHERE rk <= 20000
    ),
    adj AS (
      SELECT src AS u, dst AS w FROM edges
      UNION ALL
      SELECT dst AS u, src AS w FROM edges
    ),
    deg AS (
      -- degree-1 nodes can never be a SHARED neighbor; dropping them
      -- here also keeps 1/ln(d) away from ln(1)=0
      SELECT u AS w, CAST(count(*) AS BIGINT) AS d,
             1.0 / ln(CAST(count(*) AS DOUBLE)) AS invln
      FROM adj GROUP BY 1
      HAVING count(*) >= 2
    ),
    cand AS (
      SELECT t1.u AS part_a, t2.u AS part_b, t1.w AS w, dg.invln
      FROM adj t1
      JOIN adj t2 ON t1.w = t2.w AND t1.u < t2.u
      JOIN deg dg ON dg.w = t1.w
      LEFT JOIN edges e ON e.src = t1.u AND e.dst = t2.u
      WHERE e.src IS NULL
    ),
    scored AS (
      SELECT part_a, part_b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             list_reduce(list_prepend(0.0::DOUBLE,
                                      list(invln ORDER BY w)),
                         (acc, x) -> acc + x) AS aa
      FROM cand GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, common_neighbors,
           floor(aa * 1000000 + 0.5) / 1000000.0 AS aa_score
    FROM scored
    """,
    "Adamic–Adar link prediction over the pruned co-purchase graph "
    "(pair-count >= 2, the `part_copurchase_kcore` edge set): for "
    "every non-adjacent part pair sharing >= 2 neighbors, score "
    "sum(1/ln(deg(w))) over the common neighbors w — the classic "
    "hub-discounted 'friends you should know' ranker. The common-"
    "neighbor join fans out per shared neighbor (bounded by the "
    "pruned degree, never order size); existing edges drop out via "
    "a null-extending join used as an anti-join so both engines "
    "state it identically. The float sum is an in-row fold over "
    "neighbors ordered by id (common neighbors of any pair are "
    "bounded by min-degree), so scores hash-match bit-for-bit. "
    "deg >= 2 for any shared neighbor, so ln never hits zero.",
    ("graph", "link-prediction", "lineitem"),
)
def adamic_adar_link_prediction(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").dropDuplicates()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        # TakeOrdered 20k-edge cap: bounds the quadratic-in-degree
        # common-neighbor join on 10x-denser corpora (no-op today)
        .orderBy(F.col("cnt").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(20000)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .localCheckpoint(eager=False)
    )
    adj = edges.select(F.col("src").alias("u"), F.col("dst").alias("w")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("w"))
    )
    deg = (
        adj.groupBy(F.col("u").alias("dw"))
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") >= 2)
    )
    deg = deg.select(
        "dw", (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("invln")
    )
    t1 = adj.select(F.col("u").alias("part_a"), F.col("w").alias("w"))
    t2 = adj.select(F.col("u").alias("part_b"), F.col("w").alias("w2"))
    cand = (
        t1.join(t2, (F.col("w") == F.col("w2")) & (F.col("part_a") < F.col("part_b")))
        .join(deg, F.col("dw") == F.col("w"))
        .join(
            edges,
            (F.col("src") == F.col("part_a")) & (F.col("dst") == F.col("part_b")),
            "left_anti",
        )
    )
    scored = cand.groupBy("part_a", "part_b").agg(
        F.count("*").alias("common_neighbors"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("w", "invln"))),
            F.lit(0.0),
            lambda acc, x: acc + x["invln"],
        ).alias("aa"),
    ).filter(F.col("common_neighbors") >= 2)
    return scored.select(
        "part_a",
        "part_b",
        F.col("common_neighbors").cast("long").alias("common_neighbors"),
        _r6(F.col("aa")).alias("aa_score"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction over the token co-occurrence graph
# ---------------------------------------------------------------------------

_TR_ITERS = 8
_TR_VOCAB = 200
_TR_TOP = 30


def _textrank_oracle(iters: int = _TR_ITERS) -> str:
    """Unrolled TextRank twin (same discipline as the PageRank
    oracle: MATERIALIZED edge CTE, src-ordered list_reduce folds,
    DOUBLE-cast literals, one CTE layer per iteration)."""
    head = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    flat AS (SELECT unnest(l) AS tok FROM toks),
    vocab AS MATERIALIZED (
      SELECT tok FROM (
        SELECT tok,
               row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
        FROM flat GROUP BY tok
      ) WHERE rn <= {_TR_VOCAB}
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1,
                      greatest(len(l) - 1, 0)), i -> l[i])) AS a,
             unnest(list_transform(generate_series(1,
                      greatest(len(l) - 1, 0)), i -> l[i + 1])) AS b
      FROM toks
    ),
    e AS MATERIALIZED (
      SELECT least(a, b) AS src, greatest(a, b) AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM pairs
      JOIN vocab va ON va.tok = a
      JOIN vocab vb ON vb.tok = b
      WHERE a <> b
      GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
      SELECT src AS u, dst AS v, w FROM e
      UNION ALL
      SELECT dst AS u, src AS v, w FROM e
    ),
    outw AS (SELECT u, CAST(sum(w) AS BIGINT) AS ow FROM adj GROUP BY 1),
    nodes AS (SELECT DISTINCT u AS node FROM adj),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r
           FROM nodes CROSS JOIN nn)"""
    layers = []
    for i in range(iters):
        layers.append(f"""
    r{i + 1} AS (
      SELECT nd.node,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(f.inc, 0.0) AS r
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT adj.v AS node,
               list_reduce(list_prepend(0.0,
                 list(p.r * adj.w / ow.ow ORDER BY adj.u)),
                 (x, y) -> x + y) AS inc
        FROM adj
        JOIN r{i} p ON p.node = adj.u
        JOIN outw ow ON ow.u = adj.u
        GROUP BY adj.v
      ) f ON f.node = nd.node
    )""")
    return (
        head
        + ","
        + ",".join(layers)
        + f""",
    degs AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM adj
             GROUP BY 1)
    SELECT node AS token,
           floor(r{iters}.r * 1000000 + 0.5) / 1000000.0 AS textrank,
           d.degree, ow.ow AS cooc_weight
    FROM (
      SELECT node, r,
             row_number() OVER (ORDER BY r DESC, node ASC) AS rk
      FROM r{iters}
    ) r{iters}
    JOIN degs d ON d.u = r{iters}.node
    JOIN outw ow ON ow.u = r{iters}.node
    WHERE rk <= {_TR_TOP}
    """
    )


@_register(
    "textrank_keywords_documents",
    _textrank_oracle(),
    "TextRank keyword extraction (Mihalcea & Tarau): PageRank with "
    f"damping 0.85 / {_TR_ITERS} fixed iterations over the "
    "UNDIRECTED co-occurrence graph of adjacent tokens, restricted "
    f"to the corpus top-{_TR_VOCAB} vocabulary (count desc / token "
    "asc — selected via TakeOrdered partial top-k in Spark, never a "
    "global sort of the vocabulary), emitting the top "
    f"{_TR_TOP} keywords with score, degree and co-occurrence "
    "weight. Per-iteration plan is one adj⋈rank join + one v-keyed "
    "aggregate on a <=200-node graph (the fact-sized work is the "
    "single adjacency-pair scan, done once); incoming contributions "
    "fold in neighbor order so every double matches the unrolled-"
    "CTE DuckDB twin bit-for-bit. The graph-ranking companion to "
    "frequency-based `documents_top_tokens` / `tfidf_top_terms`.",
    ("graph", "text", "keywords", "iterative", "documents"),
)
def textrank_keywords_documents(spark, sf_dir):
    from ....operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    toks = spread_for_compute(d.select("text")).select(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("l")
    ).localCheckpoint(eager=False)
    flat = toks.select(F.explode("l").alias("tok"))
    vocab = (
        flat.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(_TR_VOCAB)
        .select("tok")
        .localCheckpoint(eager=False)
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("l") - 1, F.lit(0)))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.transform(idx, lambda i: F.element_at(F.col("l"), i)).alias(
                    "a"
                ),
                F.transform(
                    idx, lambda i: F.element_at(F.col("l"), i + 1)
                ).alias("b"),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    e = (
        pairs.join(F.broadcast(vocab.select(F.col("tok").alias("a"))), "a")
        .join(F.broadcast(vocab.select(F.col("tok").alias("b"))), "b")
        .filter(F.col("a") != F.col("b"))
        .groupBy(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=False)
    )
    # The co-occurrence graph is bounded by the top-_TR_VOCAB
    # vocabulary — ≤ vocab² integer edge weights, never corpus-sized.
    # The corpus-scale work (tokenize, pair explode, vocab top-k,
    # edge aggregate) stays in Spark above; the PageRank iterations
    # over the bounded graph used to run distributed (~50 tiny AQE
    # stage-jobs of scheduling overhead at any input size — measured
    # round 8) and are now a driver loop with the identical
    # u-sorted contribution fold, so every double is bit-identical
    # to the distributed form and the unrolled-CTE oracle.
    import math

    edges = [(r["src"], r["dst"], r["w"]) for r in e.collect()]
    adj_list: list[tuple[str, str, int]] = []
    for s_, d_, w_ in edges:
        adj_list.append((s_, d_, w_))
        adj_list.append((d_, s_, w_))
    outw: dict[str, int] = {}
    degs: dict[str, int] = {}
    incoming: dict[str, list[tuple[str, int]]] = {}
    for u, v, w_ in adj_list:
        outw[u] = outw.get(u, 0) + w_
        degs[u] = degs.get(u, 0) + 1
        incoming.setdefault(v, []).append((u, w_))
    nodes_l = sorted(outw)
    n_nodes = len(nodes_l)
    nf = float(n_nodes)
    rank = {u: 1.0 / nf for u in nodes_l}
    for _ in range(_TR_ITERS):
        nxt = {}
        for node in nodes_l:
            inc = 0.0
            for u, w_ in sorted(incoming.get(node, [])):
                inc = inc + rank[u] * w_ / outw[u]
            nxt[node] = 0.15 / nf + 0.85 * inc
        rank = nxt
    top = sorted(nodes_l, key=lambda u: (-rank[u], u))[:_TR_TOP]
    rows = [
        (
            u,
            math.floor(rank[u] * 1000000 + 0.5) / 1000000.0,
            degs[u],
            outw[u],
        )
        for u in top
    ]
    return spark.createDataFrame(
        rows,
        "token string, textrank double, degree long, cooc_weight long",
    )


_BC_EDGES = 50   # keep the top-50 undirected edges by trade weight
_BC_DEPTH = 6    # BFS unroll depth (diameter bound on the pruned graph)


def _bc_oracle() -> str:
    """Unrolled Brandes: forward BFS layers carry (source, node,
    depth, sigma = shortest-path counts, all integers); the backward
    dependency sweep folds sigma_v/sigma_w * (1 + delta_w) over
    successors ordered by node id, and the final per-node sum folds
    over sources — both orderings mirrored by F.aggregate."""
    head = f"""
    WITH ew AS (
      SELECT least(c.c_nationkey, s.s_nationkey) AS a,
             greatest(c.c_nationkey, s.s_nationkey) AS b,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (ORDER BY w DESC, a, b) AS rk
        FROM ew
      ) WHERE rk <= {_BC_EDGES}
    ),
    adj AS MATERIALIZED (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ),
    nodes AS (SELECT DISTINCT u AS node FROM adj),
    l0 AS (SELECT node AS s, node AS v, 0 AS d,
                  CAST(1 AS BIGINT) AS sigma FROM nodes),
    vis0 AS (SELECT * FROM l0)"""
    layers = []
    for k in range(_BC_DEPTH):
        layers.append(f"""
    l{k + 1} AS MATERIALIZED (
      SELECT f.s, adj.v, {k + 1} AS d,
             CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM l{k} f
      JOIN adj ON adj.u = f.v
      LEFT JOIN vis{k} vs ON vs.s = f.s AND vs.v = adj.v
      WHERE vs.v IS NULL
      GROUP BY 1, 2
    ),
    vis{k + 1} AS MATERIALIZED (
      SELECT * FROM vis{k} UNION ALL SELECT * FROM l{k + 1}
    )""")
    back = [f"""
    dl{_BC_DEPTH} AS (
      SELECT s, v, CAST(0.0 AS DOUBLE) AS delta FROM l{_BC_DEPTH}
    )"""]
    for k in range(_BC_DEPTH - 1, 0, -1):
        back.append(f"""
    dl{k} AS MATERIALIZED (
      SELECT cur.s, cur.v, coalesce(f.delta, 0.0::DOUBLE) AS delta
      FROM l{k} cur
      LEFT JOIN (
        SELECT c2.s, c2.v,
               list_reduce(list_prepend(0.0::DOUBLE,
                 list(CAST(c2.sigma AS DOUBLE) / nx.sigma
                      * (1.0::DOUBLE + nx.delta) ORDER BY nx.v)),
                 (x, y) -> x + y) AS delta
        FROM l{k} c2
        JOIN adj ON adj.u = c2.v
        JOIN (
          SELECT n.s, n.v, n.sigma, d.delta FROM l{k + 1} n
          JOIN dl{k + 1} d ON d.s = n.s AND d.v = n.v
        ) nx ON nx.s = c2.s AND nx.v = adj.v
        GROUP BY c2.s, c2.v
      ) f ON f.s = cur.s AND f.v = cur.v
    )""")
    alldl = " UNION ALL ".join(
        f"SELECT s, v, delta FROM dl{k}" for k in range(1, _BC_DEPTH + 1)
    )
    return (
        head
        + ","
        + ",".join(layers)
        + ","
        + ",".join(back)
        + f""",
    alld AS ({alldl})
    SELECT n.n_name AS nation,
           floor(coalesce(list_reduce(list_prepend(0.0::DOUBLE,
                   list(a.delta / 2.0 ORDER BY a.s)), (x, y) -> x + y),
                 0.0) * 1000000 + 0.5) / 1000000.0 AS betweenness,
           CAST(coalesce((SELECT count(*) FROM adj
                          WHERE adj.u = nd.node), 0) AS BIGINT) AS degree
    FROM nodes nd
    LEFT JOIN alld a ON a.v = nd.node AND a.s <> nd.node
    JOIN nation n ON n.n_nationkey = nd.node
    GROUP BY n.n_name, nd.node
    """
    )


@_register(
    "betweenness_centrality_nations",
    _bc_oracle(),
    "EXACT betweenness centrality via all-sources Brandes on the "
    f"nation trade graph pruned to its top-{_BC_EDGES} undirected "
    "edges (weight desc — pruning is what gives the graph bridges "
    "worth measuring): forward BFS runs ALL 25 sources "
    f"simultaneously in {_BC_DEPTH} unrolled layers carrying exact "
    "integer shortest-path counts (sigma), then the dependency "
    "sweep walks depths backwards accumulating delta = "
    "sigma_v/sigma_w * (1 + delta_w) over successors — every float "
    "fold ordered (successors by node, sources at the end), halved "
    "for the undirected double-count, so the scores match the "
    "unrolled-CTE twin bit-for-bit. Completes the centrality "
    "ladder: degree -> PageRank (influence) -> betweenness "
    "(brokerage). Per-layer plan: one frontier⋈adjacency join + "
    "one (source,node)-keyed aggregate, all on 25x25-bounded "
    "tables after one fact scan.",
    ("graph", "centrality", "iterative", "lineitem"),
)
def betweenness_centrality_nations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    ew = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count("*").alias("w"))
    )
    e = (
        ew.orderBy(F.col("w").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(_BC_EDGES)
        .select("a", "b")
        .localCheckpoint(eager=False)
    )
    # Brandes on the LIMIT-bounded top-50-edge nation graph used to
    # run as ~70 checkpointed stage-jobs (6 forward levels + 5
    # backward sweeps, pure scheduling at any input size — measured
    # round 8). The driver loop below replicates it exactly: integer
    # path counts (order-free sums), the backward dependency fold in
    # w_node order and the per-node fold in source order — the same
    # IEEE ops in the same order as the distributed form and the
    # unrolled oracle.
    import math

    edges = [(r["a"], r["b"]) for r in e.collect()]
    adj: dict[int, list[int]] = {}
    deg: dict[int, int] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    nodes_l = sorted(adj)
    # forward: per-source level sets with integer path counts
    levels: list[dict[tuple[int, int], int]] = [
        {(s, s): 1 for s in nodes_l}
    ]
    visited: dict[int, dict[int, int]] = {
        s: {s: 0} for s in nodes_l
    }
    for k in range(_BC_DEPTH):
        nxt: dict[tuple[int, int], int] = {}
        for (s, v), sigma in levels[k].items():
            for w in adj[v]:
                if w not in visited[s]:
                    nxt[(s, w)] = nxt.get((s, w), 0) + sigma
        for s, w in nxt:
            visited[s][w] = k + 1
        levels.append(nxt)
    # backward dependency sweep
    all_deltas: list[dict[tuple[int, int], float]] = [
        {sv: 0.0 for sv in levels[_BC_DEPTH]}
    ]
    for k in range(_BC_DEPTH - 1, 0, -1):
        prev = all_deltas[-1]
        nxt_level = levels[k + 1]
        dk: dict[tuple[int, int], float] = {}
        for (s, v), sigma in levels[k].items():
            acc = 0.0
            for w in sorted(adj[v]):
                if (s, w) in nxt_level:
                    acc = acc + sigma / nxt_level[(s, w)] * (
                        1.0 + prev[(s, w)]
                    )
            dk[(s, v)] = acc
        all_deltas.append(dk)
    bc = {node: 0.0 for node in nodes_l}
    contribs: dict[int, list[tuple[int, float]]] = {}
    for dk in all_deltas:
        for (s, v), delta in dk.items():
            if s != v:
                contribs.setdefault(v, []).append((s, delta))
    for node, terms in contribs.items():
        acc = 0.0
        for _, delta in sorted(terms):
            acc = acc + delta / 2.0
        bc[node] = acc
    scored = spark.createDataFrame(
        [
            (
                node,
                math.floor(bc[node] * 1000000 + 0.5) / 1000000.0,
                deg.get(node, 0),
            )
            for node in nodes_l
        ],
        "node int, betweenness double, degree long",
    )
    return scored.join(
        F.broadcast(n), scored.node == F.col("n_nationkey")
    ).select(
        F.col("n_name").alias("nation"), "betweenness", "degree"
    )


# ---------------------------------------------------------------------------
# Modularity Q of the label-propagation partition
# ---------------------------------------------------------------------------

_MOD_TAIL = f""",
    twom AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM sym),
    nodedeg AS (
      SELECT u AS node, CAST(sum(w) AS BIGINT) AS deg FROM sym GROUP BY 1
    ),
    comm AS (
      SELECT l.label AS community,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(nd.deg) AS BIGINT) AS degree_w
      FROM lab{_LPA_ROUNDS} l JOIN nodedeg nd ON nd.node = l.node
      GROUP BY 1
    ),
    internal AS (
      SELECT lu.label AS community, CAST(sum(s.w) AS BIGINT) AS internal_w
      FROM sym s
      JOIN lab{_LPA_ROUNDS} lu ON lu.node = s.u
      JOIN lab{_LPA_ROUNDS} lv ON lv.node = s.v
      WHERE lu.label = lv.label
      GROUP BY 1
    ),
    scored AS (
      SELECT c.community, c.n_nodes, c.degree_w,
             coalesce(i.internal_w, 0) AS internal_w,
             coalesce(i.internal_w, 0) / CAST(t.m2 AS DOUBLE)
               - (c.degree_w / CAST(t.m2 AS DOUBLE))
                 * (c.degree_w / CAST(t.m2 AS DOUBLE)) AS q_contrib
      FROM comm c
      LEFT JOIN internal i ON i.community = c.community
      CROSS JOIN twom t
    )
    SELECT CAST(community AS INTEGER) AS community,
           n_nodes, internal_w, degree_w,
           floor(q_contrib * 1000000 + 0.5) / 1000000.0 AS q_contrib
    FROM scored
    UNION ALL
    SELECT -1, CAST(count(*) AS BIGINT), CAST(sum(internal_w) AS BIGINT),
           CAST(sum(degree_w) AS BIGINT),
           floor(list_reduce(list_prepend(0.0::DOUBLE,
                   list(q_contrib ORDER BY community)), (a, b) -> a + b)
                 * 1000000 + 0.5) / 1000000.0
    FROM scored
    """


@_register(
    "modularity_communities_nations",
    _lpa_oracle(tail=_MOD_TAIL),
    "Newman modularity Q of the label-propagation partition — the "
    "number that says whether the detected communities are real: "
    "per community, internal edge weight over 2m minus the squared "
    "degree fraction (all from exact integer sums over the SAME "
    "symmetric weighted graph and the SAME 4-round LPA chain as "
    "`label_propagation_nations` — the oracle literally reuses "
    "that query's generated CTEs), plus a summary row (-1) folding "
    "the contributions in community order for the total Q. "
    "Q near 0 means the trade graph is too dense to partition — "
    "itself a finding. Graph-bounded arithmetic after one fact "
    "scan; the quality metric completing the community family.",
    ("graph", "community", "quality", "lineitem"),
)
def modularity_communities_nations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count("*").alias("w"))
    )
    sym = (
        raw.select("u", "v", "w")
        .unionAll(
            raw.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    # One fact scan builds the ≤ nation² integer edge list; the LPA
    # rounds and the modularity decomposition over it are bounded
    # driver work (all-integer votes with total-order tie-breaks;
    # q_contrib derives from integer sums, folded in community order
    # — the same IEEE ops in the same order as the distributed form
    # and the oracle). Replaces ~40 tiny stage-jobs of scheduling
    # (measured round 8).
    import math

    adj: dict[int, list[tuple[int, int]]] = {}
    for row in sym.collect():
        adj.setdefault(row["u"], []).append((row["v"], row["w"]))
    labels = {u: u for u in adj}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for u, nbrs in adj.items():
            wt: dict[int, int] = {}
            for v, w in nbrs:
                lbl = labels[v]
                wt[lbl] = wt.get(lbl, 0) + w
            nxt[u] = min(wt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    m2 = sum(w for nbrs in adj.values() for _, w in nbrs)
    m2d = float(m2)
    nodedeg = {u: sum(w for _, w in nbrs) for u, nbrs in adj.items()}
    comm_nodes: dict[int, int] = {}
    comm_deg: dict[int, int] = {}
    for u, lbl in labels.items():
        comm_nodes[lbl] = comm_nodes.get(lbl, 0) + 1
        comm_deg[lbl] = comm_deg.get(lbl, 0) + nodedeg[u]
    internal: dict[int, int] = {}
    for u, nbrs in adj.items():
        for v, w in nbrs:
            if labels[u] == labels[v]:
                internal[labels[u]] = internal.get(labels[u], 0) + w

    def r6(x: float) -> float:
        return math.floor(x * 1000000 + 0.5) / 1000000.0

    rows = []
    q_parts = []
    for lbl in comm_nodes:
        iw = internal.get(lbl, 0)
        dw = comm_deg[lbl]
        q = iw / m2d - (dw / m2d) * (dw / m2d)
        q_parts.append((lbl, q))
        rows.append((lbl, comm_nodes[lbl], iw, dw, r6(q)))
    acc = 0.0
    for _, q in sorted(q_parts):
        acc = acc + q
    rows.sort()
    rows.append(
        (
            -1,
            len(comm_nodes),
            sum(internal.get(lbl, 0) for lbl in comm_nodes),
            sum(comm_deg.values()),
            r6(acc),
        )
    )
    return spark.createDataFrame(
        rows,
        "community int, n_nodes long, internal_w long, "
        "degree_w long, q_contrib double",
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the nation trade graph
# ---------------------------------------------------------------------------

@_register(
    "degree_assortativity_nations",
    """
    WITH ew AS (
      SELECT c.c_nationkey AS u, s.s_nationkey AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    adj AS (
      SELECT u, v FROM ew UNION ALL SELECT v AS u, u AS v FROM ew
    ),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1
    ),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj
      JOIN deg du ON du.node = adj.u
      JOIN deg dv ON dv.node = adj.v
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs
    )
    SELECT n AS n_directed_edges,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE) > 0.0 THEN
             floor(CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))
                   * 1000000 + 0.5) / 1000000.0
           END AS assortativity
    FROM m
    """,
    "Degree assortativity of the nation trade graph — Newman's r: "
    "the Pearson correlation of endpoint degrees over all directed "
    "edge instances, from pure integer moments (bit-identical "
    "across engines, no float accumulation). Negative r = "
    "hub-and-spoke (high-degree nations trade with low-degree "
    "ones, the disassortative shape of most economic networks); "
    "positive = rich-club. One number that summarizes the "
    "topology the centrality family (degree -> PageRank -> "
    "betweenness) describes node-by-node. Graph-bounded "
    "arithmetic after one fact scan.",
    ("graph", "topology", "lineitem"),
)
def degree_assortativity_nations(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    ew = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count("*").alias("w"))
        .select("u", "v")
    )
    adj = ew.unionAll(
        ew.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    pairs = (
        adj.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
            ),
            "v",
        )
        .select("x", "y")
    )
    m = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.when(
            vx * vy > 0.0,
            F.floor(cov / F.sqrt(vx * vy) * 1000000 + F.lit(0.5))
            / 1000000.0,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Percolation: connected components before/after removing the top hubs
# ---------------------------------------------------------------------------

_PERC_EDGES = 50
_PERC_HUBS = 2
_PERC_ROUNDS = 8


def _perc_cc_sql(edges_cte: str, prefix: str) -> str:
    sql = f"""
    {prefix}adj AS (
      SELECT a AS u, b AS v FROM {edges_cte}
      UNION ALL SELECT b AS u, a AS v FROM {edges_cte}
    ),
    {prefix}lab0 AS (
      SELECT DISTINCT u AS node, u AS label FROM {prefix}adj
    )"""
    for r in range(1, _PERC_ROUNDS + 1):
        sql += f""",
    {prefix}lab{r} AS MATERIALIZED (
      SELECT n.node, least(n.label, coalesce(m.ml, n.label)) AS label
      FROM {prefix}lab{r - 1} n
      LEFT JOIN (
        SELECT a.u AS node, min(l.label) AS ml
        FROM {prefix}adj a JOIN {prefix}lab{r - 1} l ON l.node = a.v
        GROUP BY 1
      ) m ON m.node = n.node
    )"""
    return sql


@_register(
    "percolation_hub_removal",
    f"""
    WITH ew AS (
      SELECT least(c.c_nationkey, s.s_nationkey) AS a,
             greatest(c.c_nationkey, s.s_nationkey) AS b,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (ORDER BY w DESC, a, b) AS rk
        FROM ew
      ) WHERE rk <= {_PERC_EDGES}
    ),
    degs AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
      ) GROUP BY 1
    ),
    hubs AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, row_number() OVER (ORDER BY d DESC, node ASC) AS rk
        FROM degs
      ) WHERE rk <= {_PERC_HUBS}
    ),
    e2 AS MATERIALIZED (
      SELECT a, b FROM e
      WHERE a NOT IN (SELECT node FROM hubs)
        AND b NOT IN (SELECT node FROM hubs)
    ),
    {_perc_cc_sql("e", "f_")},
    {_perc_cc_sql("e2", "r_")},
    f_sizes AS (
      SELECT label, CAST(count(*) AS BIGINT) AS sz
      FROM f_lab{_PERC_ROUNDS} GROUP BY 1
    ),
    r_sizes AS (
      SELECT label, CAST(count(*) AS BIGINT) AS sz
      FROM r_lab{_PERC_ROUNDS} GROUP BY 1
    )
    SELECT 'full' AS scenario,
           CAST(sum(sz) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(max(sz) AS BIGINT) AS largest_component
    FROM f_sizes
    UNION ALL
    SELECT 'hubs_removed',
           CAST(coalesce(sum(sz), 0) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(coalesce(max(sz), 0) AS BIGINT)
    FROM r_sizes
    """,
    "Percolation / robustness audit of the trade graph: connected "
    f"components (min-label propagation, {_PERC_ROUNDS} unrolled "
    "rounds) on the top-50-edge graph BEFORE and AFTER removing "
    f"the top-{_PERC_HUBS} degree hubs — the targeted-attack "
    "experiment that quantifies hub dependence: a resilient "
    "network keeps its giant component, a hub-and-spoke one "
    "shatters (and `degree_assortativity_nations` predicts which "
    "you have). Integer labels make every round bit-deterministic; "
    "all iteration tables are 25-node-bounded after one fact scan. "
    "The failure-mode companion to betweenness (which FINDS the "
    "brokers this audit removes).",
    ("graph", "robustness", "iterative", "lineitem"),
)
def percolation_hub_removal(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    ew = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count("*").alias("w"))
    )
    # One fact scan + top-k edge selection stays in Spark; every
    # iteration table after it is bounded by the LIMIT to ≤ 50
    # integer edge pairs over ≤ 25 nation nodes. The 2×8 label-
    # propagation rounds used to run as ~75 tiny AQE stage-jobs
    # (seconds of pure scheduling at any input scale — measured
    # round 8); they are a driver-side integer loop with identical
    # min-label semantics, bit-exact by construction (all-integer
    # math, same tie rules, same fixed round count as the oracle).
    edge_rows = (
        ew.orderBy(F.col("w").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(_PERC_EDGES)
        .select("a", "b")
        .collect()
    )
    edges = [(r["a"], r["b"]) for r in edge_rows]

    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    hubs = {
        n for n, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_PERC_HUBS
        ]
    }
    e2 = [(a, b) for a, b in edges if a not in hubs and b not in hubs]

    def cc_sizes(pairs):
        adj: dict[int, list[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        lab = {n: n for n in adj}
        for _ in range(_PERC_ROUNDS):
            nxt = {}
            for n, label in lab.items():
                ml = min((lab[v] for v in adj[n]), default=label)
                nxt[n] = min(label, ml)
            lab = nxt
        sizes: dict[int, int] = {}
        for label in lab.values():
            sizes[label] = sizes.get(label, 0) + 1
        return sizes

    def summarize(sizes, name):
        return (
            name,
            sum(sizes.values()),
            len(sizes),
            max(sizes.values()) if sizes else 0,
        )

    return spark.createDataFrame(
        [
            summarize(cc_sizes(edges), "full"),
            summarize(cc_sizes(e2), "hubs_removed"),
        ],
        "scenario string, n_nodes long, n_components long, "
        "largest_component long",
    )
