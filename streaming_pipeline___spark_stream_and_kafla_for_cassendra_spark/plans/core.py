"""Query-catalog core: the declaration contract every family module uses.

A query is a DataFrame builder ``(spark, sf_dir) -> DataFrame``
paired, where SQL can express it, with an ANSI-SQL oracle string the
driver runs on DuckDB over the same parquet tables. Column names AND
types are aligned on both sides; float aggregates are rounded
identically (4–6 decimals) so order-insensitive value hashes match.

This module holds ``QueryDef``, ``REGISTRY`` and ``_register``, the
table loader and streaming helpers every builder leans on, and each
helper that more than one family module uses. It imports no family
module; ``plans/registry.py`` discovers those.

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

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import DEFAULT_STOPWORDS, LANG_STOPWORDS
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
    of silently serializing state through 8."""
    import math
    import os

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


# ---------------------------------------------------------------------------
# Helpers used by more than one family module
# ---------------------------------------------------------------------------

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


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in DEFAULT_STOPWORDS) + "]"


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


def _stable_ratio6(num, den):
    """Engine-stable 6-decimal ratio of two exact (integer) values:
    one IEEE divide then the floor(x*1e6+0.5) trick — identical on
    Spark and DuckDB regardless of round() implementation."""
    q = num / den
    return F.floor(q * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


def _r6(col):
    return F.floor(col * 1000000 + F.lit(0.5)) / F.lit(1000000.0)


def _r4(col):
    return F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)


# Blocklist / policy screening with severity weights

# term -> deci-weight (integer tenths so severity sums stay exact)
BLOCKLIST_WEIGHTS = {
    "hash": 30,
    "merge": 25,
    "slow": 20,
    "spark": 10,
    "batch": 10,
}


# Token-bucket rate limiter simulation over per-user event arrivals

_TB_CAP = 5           # bucket capacity, tokens
_TB_TOKEN_US = 60_000_000  # one token refills per minute


# windowFunnel: max funnel stage completed inside a sliding 24h window

_WF_WINDOW_US = 24 * 3600 * 1_000_000
_WF_STAGES = ("view", "click", "purchase")
_WF_CODE = {t: i + 1 for i, t in enumerate(_WF_STAGES)}  # 1-based

_WF_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{t}' THEN {c}" for t, c in _WF_CODE.items())
    + " ELSE 0 END"
)
