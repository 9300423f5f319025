"""The ``catalog_mix`` workload: a cut of the registry catalog, one or two
queries per group, on tables generated from the seed.

Each query is built by its ``plans.registry.REGISTRY`` builder and
materialized to the noop sink; the builder's own time (streaming
builders run their ``availableNow`` query to completion inside it) and
the sink's time are kept apart. Every pass starts with an empty
shared-leg cache, so the first mining query publishes the n-gram pair
leg and the second reads it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import statistics
import time

# group -> registry queries, in run order
GROUPS: dict[str, tuple[str, ...]] = {
    "relational": ("q03_shipping_priority",),
    "streaming": ("streaming_hourly_events",),
    "udf": ("embedding_near_dup_pairs",),
    "mining": ("ngram_jaccard_pairs", "near_dup_clusters"),
}
# tables each query reads (for the input-row throughput)
READS = {
    "q03_shipping_priority": ("customer", "orders", "lineitem"),
    "streaming_hourly_events": ("events",),
    "embedding_near_dup_pairs": ("embeddings",),
    "ngram_jaccard_pairs": ("documents",),
    "near_dup_clusters": ("documents",),
}

# Table sizes: small enough that a pass takes a few seconds on four
# cores, large enough that every query returns rows.
CUSTOMERS = 300
ORDERS = 3_000
EVENTS = 6_000
EMBEDDINGS = 400
EMBEDDING_DIM = 64
DOCUMENTS = 400
PLANTED_SHARE = 0.1  # near-duplicate copies among documents and embeddings

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "de", "es", "fr", "zh")


def query_list() -> list[tuple[str, str]]:
    return [(g, q) for g, qs in GROUPS.items() for q in qs]


# -- input tables -------------------------------------------------------------


def _tables(seed: int) -> dict[str, list[dict]]:
    """Row dicts per table; the same seed gives the same rows."""
    rng = random.Random(seed)
    day0 = dt.datetime(1997, 1, 1)
    customer = [
        {
            "c_custkey": k,
            "c_name": f"Customer#{k:09d}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999, 9999), 2),
            "c_mktsegment": rng.choice(_SEGMENTS),
        }
        for k in range(CUSTOMERS)
    ]
    orders, lineitem = [], []
    for k in range(ORDERS):
        odate = day0 + dt.timedelta(days=rng.randrange(3 * 365))
        total = 0.0
        for n in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            price = round(qty * rng.uniform(900, 2100), 2)
            lineitem.append({
                "l_orderkey": k,
                "l_partkey": rng.randrange(200),
                "l_suppkey": rng.randrange(10),
                "l_linenumber": n,
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": rng.randrange(11) / 100,
                "l_tax": rng.randrange(9) / 100,
                "l_returnflag": rng.choice("ANR"),
                "l_linestatus": rng.choice("FO"),
                "l_shipdate": odate + dt.timedelta(days=rng.randrange(1, 122)),
            })
            total += price
        orders.append({
            "o_orderkey": k,
            "o_custkey": rng.randrange(CUSTOMERS),
            "o_orderstatus": rng.choice("FOP"),
            "o_totalprice": round(total, 2),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(_PRIORITIES),
        })
    t0 = dt.datetime(2024, 1, 1)
    events = [
        {
            "event_id": i,
            "ts": t0 + dt.timedelta(microseconds=rng.randrange(24 * 3600 * 10**6)),
            "user_id": rng.randrange(200),
            "event_type": rng.choice(_EVENT_TYPES),
            "value": round(rng.uniform(0, 500), 2),
            "props": f'{{"k": {rng.randrange(100)}}}',
        }
        for i in range(EVENTS)
    ]
    embeddings = []
    for i in range(EMBEDDINGS):
        if i and rng.random() < PLANTED_SHARE:
            base = embeddings[rng.randrange(i)]["embedding"]
            vec = [x + rng.gauss(0, 0.5) for x in base]
        else:
            vec = [rng.gauss(0, 1) for _ in range(EMBEDDING_DIM)]
        embeddings.append({"vec_id": i, "embedding": vec, "label": rng.randrange(8)})
    # Zipf-like vocabulary draws, so grams have a long-tailed frequency
    vocab = [f"w{i}" for i in range(2_000)]
    weights = [1.0 / (r + 1) ** 1.05 for r in range(len(vocab))]
    documents = []
    for i in range(DOCUMENTS):
        if i and rng.random() < PLANTED_SHARE:
            words = [w for w in documents[rng.randrange(i)]["text"].split() if rng.random() > 0.1]
        else:
            words = rng.choices(vocab, weights, k=rng.randrange(20, 61))
        text = " ".join(words)
        documents.append({
            "doc_id": i,
            "text": text,
            "lang": rng.choice(_LANGS),
            "source": f"src{rng.randrange(4)}",
            "n_chars": len(text),
        })
    return {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "embeddings": embeddings, "documents": documents,
    }


def _schemas():
    import pyarrow as pa

    ts = pa.timestamp("us")
    return {
        "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                     ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())],
        "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                   ("o_totalprice", pa.float64()), ("o_orderdate", ts), ("o_orderpriority", pa.string())],
        "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                     ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                     ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                     ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                     ("l_linestatus", pa.string()), ("l_shipdate", ts)],
        "events": [("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
                   ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
        "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                       ("label", pa.int32())],
        "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())],
    }


def write_tables(root: str, seed: int) -> dict[str, int]:
    """One parquet file per table (``<table>.parquet``, the layout the
    registry loaders read). Returns the row count per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    schemas = _schemas()
    counts = {}
    for name, rows in _tables(seed).items():
        schema = pa.schema(schemas[name])
        cols = {f: [r[f] for r in rows] for f in schema.names}
        pq.write_table(pa.table(cols, schema=schema), os.path.join(root, f"{name}.parquet"))
        counts[name] = len(rows)
    return counts


def input_rows(counts: dict[str, int]) -> int:
    """Rows the pass reads: each query's tables, once per query."""
    return sum(counts[t] for _, q in query_list() for t in READS[q])


# -- shared-leg cache observation -----------------------------------------------


def _leg_roots() -> list[str]:
    import tempfile

    tmp = tempfile.gettempdir()
    return [os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("spark_graft_shared_legs-")]


def leg_state() -> dict[str, float]:
    """Committed shared-leg entries and their directory mtimes (a cache
    hit touches its entry's directory)."""
    out = {}
    for root in _leg_roots():
        for e in os.listdir(root):
            path = os.path.join(root, e)
            if os.path.exists(os.path.join(path, "_committed")):
                out[path] = os.stat(path).st_mtime_ns
    return out


def leg_changes(before: dict[str, float], after: dict[str, float]) -> tuple[int, int]:
    """(entries published, entries hit) between two ``leg_state`` calls."""
    published = sum(k not in before for k in after)
    hits = sum(k in before and after[k] > before[k] for k in after)
    return published, hits


# -- one pass ---------------------------------------------------------------------


def _registry():
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import registry

    return registry


def run_pass(spark, data_dir: str, tracer) -> list[dict]:
    """Build and materialize every query once, cold shared-leg cache.
    Returns one record per query: group, name, build_s, exec_s, window
    (epoch ms) and the shared-leg entries it published and hit."""
    reg = _registry()
    by_name = {q.name: q for q in reg.REGISTRY}
    reg.clear_shared_leg_cache()
    out = []
    for group, name in query_list():
        legs = leg_state()
        start_ms = int(time.time() * 1000)
        with tracer.span(f"plans.registry.{name}", group=group):
            t0 = time.perf_counter()
            with tracer.span("build"):
                df = by_name[name].builder(spark, data_dir)
            t1 = time.perf_counter()
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        published, hits = leg_changes(legs, leg_state())
        out.append({
            "group": group, "query": name, "build_s": t1 - t0, "exec_s": t2 - t1,
            "start_ms": start_ms, "end_ms": int(time.time() * 1000),
            "legs_published": published, "leg_hits": hits,
        })
    return out


def measure(ctx) -> dict:
    """Passes while another one fits in the run's measuring time (at
    least two); per query the median over passes."""
    data_dir, counts = ctx.inputs
    passes, walls = [], []
    deadline = time.monotonic() + ctx.seconds
    while len(passes) < 2 or time.monotonic() + walls[-1] <= deadline:
        t0 = time.perf_counter()
        with ctx.tracer.span("catalog.pass", rep=len(passes)):
            passes.append(run_pass(ctx.spark, data_dir, ctx.tracer))
        walls.append(time.perf_counter() - t0)
    ctx.attempt(len(passes) * len(query_list()), 0)
    per_query = {
        q: statistics.median(p[i]["build_s"] + p[i]["exec_s"] for p in passes)
        for i, (_, q) in enumerate(query_list())
    }
    wall = statistics.median(walls)
    groups = {
        g: sum(per_query[q] for q in qs) for g, qs in GROUPS.items()
    }
    return {
        "rows_per_s": input_rows(counts) / wall,
        "latency_p50_s": statistics.median(per_query.values()),
        "latency_tail_s": max(per_query.values()),
        "_info": {
            "catalog_wall_s": wall,
            **{f"catalog_{g}_s": s for g, s in groups.items()},
            "query_s": per_query,
            "passes": len(passes),
            "input_rows_per_pass": input_rows(counts),
        },
        "_passes": passes,
    }


# -- output checks ----------------------------------------------------------------


def _cell(v) -> str:
    """Engine-neutral rendering of one value (as tools/oracle_compare.py
    renders them): floats to six significant digits."""
    import decimal

    if v is None:
        return "null"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows (columns by
    name, so column order does not matter either)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join([",".join(sorted(columns))] + lines).encode())
    return len(rows), h.hexdigest()[:16]


def check_outputs(spark, data_dir: str) -> dict[str, list[str]]:
    """Each query's rows against its DuckDB oracle over the same files."""
    import duckdb

    reg = _registry()
    by_name = {q.name: q for q in reg.REGISTRY}
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events", "embeddings", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    res = {}
    for _, name in query_list():
        df = by_name[name].builder(spark, data_dir)
        got = fingerprint(df.columns, [tuple(r) for r in df.collect()])
        cur = con.execute(reg.resolve_oracle(by_name[name]))
        want = fingerprint([d[0] for d in cur.description], cur.fetchall())
        if got[0] == 0:
            res[name] = ["no rows"]
        else:
            res[name] = [] if got == want else [f"{name}: spark {got}, duckdb {want}"]
    con.close()
    return res
