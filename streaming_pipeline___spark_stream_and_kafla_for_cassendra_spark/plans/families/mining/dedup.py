"""Near-duplicate mining: exact, n-gram Jaccard, MinHash/SimHash and
winnowing dedup, cluster and survivor election over the shared
n-gram pair leg, contamination screens and record linkage.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import content_fingerprint, stopword_ratio, tokens
from ....operators.dedup import (
    connected_components,
    dedup_exact,
    minhash_lsh_pairs,
    simhash_fingerprints,
)
from ....operators.similarity import embedding_near_dup_pairs
from ... import legs as _legs
from ...core import _STOP_SQL, _minhash_banded_ctes, _r6, _register, _stable_ratio6, _t


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


def _mine_ngram_pairs(docs):
    from ....operators import dedup as _dd

    return _dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", **_NGRAM_LEG_PARAMS
    )


def _ngram_pair_leg(spark, sf_dir):
    from ....operators import dedup as _dd

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
    from ....operators.dedup import (
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
    from ....functions.text import word_ngrams

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
    from ....functions.text import shingle_rows

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
    from ....operators.dedup import connected_components

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
    from ....operators.dedup import jaccard_prefix_filter_pairs

    d = _t(spark, sf_dir, "documents")
    return jaccard_prefix_filter_pairs(
        d, "text", "doc_id", shingle_n=3, threshold=0.5
    )


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
    from ....functions.text import word_ngrams
    from ....operators.dedup import ngram_jaccard_pairs as _njp

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


# ---------------------------------------------------------------------------
# Fellegi–Sunter record-linkage scoring on blocked customer pairs
# ---------------------------------------------------------------------------

# (agree_deci, disagree_deci) per comparison field — log2(m/u)-style
# weights in integer tenths so pair scores are exact integers.
_FS_WEIGHTS = {"segment": (25, -12), "balance": (31, -8), "digit": (7, -3)}
_FS_BAL_TOL_CENTS = 5000
_FS_THRESHOLD_DECI = 40


@_register(
    "fellegi_sunter_linkage_scores",
    f"""
    WITH c AS (
      SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      FROM customer
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             a.seg = b.seg AS agree_seg,
             abs(a.bal_cents - b.bal_cents) <= {_FS_BAL_TOL_CENTS}
               AS agree_bal,
             a.id % 10 = b.id % 10 AS agree_digit
      FROM c a JOIN c b
        ON a.nat = b.nat AND a.bal_bucket = b.bal_bucket AND a.id < b.id
    )
    SELECT id_a, id_b, agree_seg, agree_bal, agree_digit,
           CAST(CASE WHEN agree_seg THEN {_FS_WEIGHTS["segment"][0]}
                     ELSE {_FS_WEIGHTS["segment"][1]} END
              + CASE WHEN agree_bal THEN {_FS_WEIGHTS["balance"][0]}
                     ELSE {_FS_WEIGHTS["balance"][1]} END
              + CASE WHEN agree_digit THEN {_FS_WEIGHTS["digit"][0]}
                     ELSE {_FS_WEIGHTS["digit"][1]} END AS BIGINT)
             AS score_deci
    FROM pairs
    WHERE CASE WHEN agree_seg THEN {_FS_WEIGHTS["segment"][0]}
               ELSE {_FS_WEIGHTS["segment"][1]} END
        + CASE WHEN agree_bal THEN {_FS_WEIGHTS["balance"][0]}
               ELSE {_FS_WEIGHTS["balance"][1]} END
        + CASE WHEN agree_digit THEN {_FS_WEIGHTS["digit"][0]}
               ELSE {_FS_WEIGHTS["digit"][1]} END >= {_FS_THRESHOLD_DECI}
    """,
    "Fellegi–Sunter probabilistic record linkage over the customer "
    "table: candidate pairs come from a (nation, balance-bucket) "
    "blocking equi-join — never a cross product — then each pair is "
    "scored by per-field agreement weights (log₂(m/u)-style, stored "
    "as integer tenths so scores are exact), keeping pairs above the "
    "match threshold. The field-comparison vector rides along so "
    "clerical review can see WHY a pair matched. At 100 TB the "
    "blocking key bounds pair fan-out; skewed blocks would use the "
    "salted-join lever.",
    ("linkage", "join", "dedup", "customer"),
)
def fellegi_sunter_linkage_scores(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    a = c.select(*(F.col(x).alias(f"{x}_a") for x in c.columns))
    b = c.select(*(F.col(x).alias(f"{x}_b") for x in c.columns))
    pairs = a.join(
        b,
        (F.col("nat_a") == F.col("nat_b"))
        & (F.col("bal_bucket_a") == F.col("bal_bucket_b"))
        & (F.col("id_a") < F.col("id_b")),
    )
    agree_seg = F.col("seg_a") == F.col("seg_b")
    agree_bal = (
        F.abs(F.col("bal_cents_a") - F.col("bal_cents_b")) <= _FS_BAL_TOL_CENTS
    )
    agree_digit = (F.col("id_a") % 10) == (F.col("id_b") % 10)
    score = (
        F.when(agree_seg, _FS_WEIGHTS["segment"][0]).otherwise(
            _FS_WEIGHTS["segment"][1]
        )
        + F.when(agree_bal, _FS_WEIGHTS["balance"][0]).otherwise(
            _FS_WEIGHTS["balance"][1]
        )
        + F.when(agree_digit, _FS_WEIGHTS["digit"][0]).otherwise(
            _FS_WEIGHTS["digit"][1]
        )
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            agree_seg.alias("agree_seg"),
            agree_bal.alias("agree_bal"),
            agree_digit.alias("agree_digit"),
            score.cast("long").alias("score_deci"),
        )
        .filter(F.col("score_deci") >= _FS_THRESHOLD_DECI)
    )


# ---------------------------------------------------------------------------
# Containment (one-way Jaccard) pairs — subset-duplicate detection
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.8


@_register(
    "ngram_containment_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM toks)
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams
            GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor(i / CAST(ca.n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS contain_a,
           floor(i / CAST(cb.n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS contain_b
    FROM inter
    JOIN cnt ca ON ca.doc_id = id_a
    JOIN cnt cb ON cb.doc_id = id_b
    WHERE i / CAST(ca.n AS DOUBLE) >= {_CONTAIN_T}
       OR i / CAST(cb.n AS DOUBLE) >= {_CONTAIN_T}
    """,
    "Containment-similarity pairs (one-way Jaccard, Broder's "
    "containment): |A∩B|/|A| per direction over distinct 3-gram "
    "sets, keeping pairs where EITHER direction reaches 0.8 — the "
    "subset-duplicate detector that symmetric Jaccard structurally "
    "misses (a short doc fully embedded in a long one has tiny "
    "J = |∩|/|∪| but containment ≈ 1). Same inverted-index plan as "
    "`ngram_jaccard_pairs`: gram-bucket equi-join (quadratic only "
    "within a gram's posting list), per-doc gram counts joined back; "
    "counts exact, each containment one pinned division. The "
    "whitespace split (vs the tokenizer split) matches the Jaccard "
    "miner so the two operators' gram spaces are identical.",
    ("dedup", "similarity", "documents"),
)
def ngram_containment_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")
    # docs with <3 whitespace tokens have no 3-grams (DuckDB's
    # generate_series(1,0) is empty; Spark sequence(1,0) DESCENDS, so
    # filter them out before the explode)
    base = d.select("doc_id", w.alias("w")).filter(F.size("w") >= 3)
    grams = (
        base.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("w", F.col("i")),
                F.element_at("w", F.col("i") + 1),
                F.element_at("w", F.col("i") + 2),
            ).alias("g"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cnt = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = grams.select(F.col("doc_id").alias("id_a"), "g")
    b = grams.select(F.col("doc_id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    ca = cnt.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    contain_a = F.col("i") / F.col("na").cast("double")
    contain_b = F.col("i") / F.col("nb").cast("double")
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .filter((contain_a >= _CONTAIN_T) | (contain_b >= _CONTAIN_T))
        .select(
            "id_a",
            "id_b",
            _r6(contain_a).alias("contain_a"),
            _r6(contain_b).alias("contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical survivor per near-duplicate cluster (keep-best dedup output)
# ---------------------------------------------------------------------------

@_register(
    "near_dup_canonical_docs",
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
    clusters AS (SELECT node AS doc_id, min(r) AS cluster_id
                 FROM reach GROUP BY node),
    sel AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id)
               AS rk
      FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           max(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc_id
    FROM sel GROUP BY 1
    """,
    "Survivorship after near-dup clustering — the step that turns "
    "cluster labels into an output corpus: within each 3-gram-"
    "Jaccard connected component, elect the canonical document "
    "(longest text, doc_id tie-break) and report member/char totals "
    "per cluster. Same pair graph + pointer-jumping components as "
    "near_dup_clusters; the election is a cluster-keyed window over "
    "cluster-sized groups (never a global sort). The dedup'd corpus "
    "is then 'canonical docs + every unclustered doc'. Pair graph "
    "served from the materialized shared mining leg (_ngram_pair_leg)",
    ("dedup", "clustering", "survivorship", "documents"),
)
def near_dup_canonical_docs(spark, sf_dir):
    from ....operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pair_leg(spark, sf_dir)
    labels = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    sel = labels.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        sel.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
        )
    )


_DUP_N = 8  # n-gram width for the repeated-substring scan


@_register(
    "dup_span_extraction_documents",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(l) - {_DUP_N - 1}, 0)))
               AS pos,
             unnest(list_transform(
               generate_series(1, greatest(len(l) - {_DUP_N - 1}, 0)),
               i -> array_to_string(l[i:i + {_DUP_N - 1}], ' '))) AS gram
      FROM toks
    ),
    freq AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS f FROM grams GROUP BY 1
    ),
    duppos AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN freq ON freq.gram = g.gram
      WHERE freq.f >= 2
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= {_DUP_N - 1}
                  THEN 0 ELSE 1 END AS newspan
      FROM duppos
    ),
    islands AS (
      SELECT doc_id, pos,
             sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, span_id,
             CAST(min(pos) AS BIGINT) AS s,
             CAST(max(pos) + {_DUP_N - 1} AS BIGINT) AS e
      FROM islands GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY 1
    )
    SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
           coalesce(p.n_spans, 0) AS n_spans,
           coalesce(p.dup_tokens, 0) AS dup_tokens,
           CAST(coalesce(p.dup_tokens, 0) * 1000000
                // greatest(len(t.l), 1) AS BIGINT) AS dup_ppm
    FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    WHERE len(t.l) >= {_DUP_N}
    """,
    "Cross-document repeated-substring span extraction — the exact-"
    "substring dedup mechanic (find every maximal span made of "
    f"{_DUP_N}-grams that occur >= 2 times anywhere in the corpus, "
    "the 'memorized boilerplate' a pretraining pipeline strips "
    "BEFORE training instead of after memorization): windowed "
    f"{_DUP_N}-grams with positions, corpus-frequency join, then "
    "gaps-and-islands over duplicated positions (a gap > n-1 "
    "starts a new span, so overlapping gram hits merge into "
    "maximal spans without double-counting tokens). Per doc: span "
    "count, tokens inside duplicated spans, and the duplicated "
    "fraction in ppm. The span-level complement of "
    "`dup_ngram_fraction_documents` (gram-level ratio) and "
    "`dedup_paragraphs_documents` (paragraph granularity); shuffle "
    "keyed on gram then doc, windows per doc.",
    ("text-quality", "dedup", "documents"),
)
def dup_span_extraction_documents(spark, sf_dir):
    from ....operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    toks = spread_for_compute(d.select("doc_id", "text")).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("l"),
    ).localCheckpoint(eager=False)
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("l") - (_DUP_N - 1), F.lit(0))
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(
                        F.slice(F.col("l"), i, _DUP_N), " "
                    ).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    freq = grams.groupBy("gram").agg(F.count("*").alias("f"))
    duppos = grams.join(
        freq.filter(F.col("f") >= 2).select("gram"), "gram"
    ).select("doc_id", "pos")
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    flagged = duppos.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") - F.lag("pos").over(wlag) <= _DUP_N - 1, 0
        )
        .otherwise(1)
        .alias("newspan"),
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "doc_id", "pos", F.sum("newspan").over(wcum).alias("span_id")
    )
    spans = islands.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"), (F.max("pos") + (_DUP_N - 1)).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    return (
        toks.filter(F.size("l") >= _DUP_N)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("l").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.expr(
                "CAST(coalesce(dup_tokens, 0) * 1000000 div "
                "greatest(size(l), 1) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source contamination: near-dup pairs that straddle sources
# ---------------------------------------------------------------------------

_XC_JACCARD_PPM = 600000  # 3-gram Jaccard >= 0.6


@_register(
    "cross_source_contamination_matrix",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
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
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(count(*) AS BIGINT) AS inter
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    nd AS (
      SELECT p.da, p.db
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.da
      JOIN sizes sb ON sb.doc_id = p.db
      WHERE p.inter * 1000000
            >= {_XC_JACCARD_PPM} * (sa.sz + sb.sz - p.inter)
    ),
    srcs AS (SELECT doc_id, source FROM toks)
    SELECT least(s1.source, s2.source) AS source_a,
           greatest(s1.source, s2.source) AS source_b,
           CAST(count(*) AS BIGINT) AS near_dup_pairs,
           s1.source <> s2.source AS cross_source
    FROM nd
    JOIN srcs s1 ON s1.doc_id = nd.da
    JOIN srcs s2 ON s2.doc_id = nd.db
    GROUP BY 1, 2, 4
    """,
    "Cross-source contamination matrix: 3-gram-Jaccard near-dup "
    "pairs (>= 0.6, the `ngram_jaccard_pairs` inverted-index "
    "machinery) attributed to their SOURCE pair — the matrix that "
    "answers the question dedup counts can't: is duplication "
    "WITHIN sources (mirrors, harmless) or ACROSS them "
    "(train/eval contamination, syndication, scraping loops — the "
    "pairs a benchmark-hygiene pass must break). Gram join "
    "quadratic only within shared-gram buckets; the source "
    "attribution is two broadcast-scale joins on the pair list.",
    ("text-quality", "dedup", "contamination", "documents"),
)
def cross_source_contamination_matrix(spark, sf_dir):
    # NOT spread (r9 interleaved A/B: 2.02 s with a round-robin
    # pre-exchange vs 1.85 s without — the checkpointed tokenize leg
    # is cheap enough that the exchange never repays itself here)
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
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
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.select(F.col("doc_id").alias("da"), "g")
    b = grams.select(F.col("doc_id").alias("db"), F.col("g").alias("g2"))
    pairs = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("da") < F.col("db")))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
    )
    nd = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza")),
            "da",
        )
        .join(
            sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb")),
            "db",
        )
        .filter(
            F.col("inter") * 1000000
            >= _XC_JACCARD_PPM
            * (F.col("sza") + F.col("szb") - F.col("inter"))
        )
        .select("da", "db")
    )
    srcs = toks.select("doc_id", "source")
    out = (
        nd.join(
            srcs.select(F.col("doc_id").alias("da"), F.col("source").alias("s1")),
            "da",
        )
        .join(
            srcs.select(F.col("doc_id").alias("db"), F.col("source").alias("s2")),
            "db",
        )
        .groupBy(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
            (F.col("s1") != F.col("s2")).alias("cross_source"),
        )
        .agg(F.count("*").alias("near_dup_pairs"))
    )
    return out.select(
        "source_a",
        "source_b",
        F.col("near_dup_pairs").cast("long").alias("near_dup_pairs"),
        "cross_source",
    )


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
    from ....operators.scale import spread_for_compute

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
    from ....operators.dedup import df_capped_pair_stats

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


#: Pair-completeness truth mining is graded on a deterministic
#: stratum of at most ~this many documents (seeded multiplicative
#: hash on doc_id, engine-portable) so the gate's own cost stays
#: O(stratum²) — bounded-constant — while the corpus grows without
#: bound. The reduction-ratio side stays full-corpus (the LSH
#: bucket join is the linear production path being graded).
LSH_QUALITY_STRATUM = 10_000
_KNUTH = 2_654_435_761  # Knuth multiplicative hash constant (2^32 / phi)


@_register(
    "lsh_blocking_quality",
    f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    stride AS (
      SELECT greatest(
               1, CAST(ceil(n_docs / {LSH_QUALITY_STRATUM}.0) AS BIGINT)
             ) AS s
      FROM n
    ),
    strat AS (
      SELECT doc_id, text FROM documents
      WHERE ((doc_id * {_KNUTH}) % 4294967296)
            % (SELECT s FROM stride) = 0
    ),
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
             FROM strat),
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
    ),
    truth AS (
      SELECT id_a, id_b FROM inter
      JOIN cnt ca ON ca.doc_id = id_a
      JOIN cnt cb ON cb.doc_id = id_b
      WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.7
    )
    SELECT CAST((SELECT n_docs FROM n) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM strat) AS BIGINT) AS n_stratum,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST(0.9 AS DOUBLE) AS pc_floor,
           CAST(0.95 AS DOUBLE) AS rr_floor,
           TRUE AS pc_floor_met,
           TRUE AS rr_floor_met
    """,
    "Blocking-quality scorecard for the MinHash-LSH near-dup tier "
    "(banded_signatures, 16 bands x 4 rows, seeded constants): pair "
    "completeness — the share of EXACT 3-gram-Jaccard >= 0.7 pairs "
    "that appear among the band-bucket candidates — must clear 0.9 "
    "(theory: candidate probability 1-(1-j^4)^16 = 0.988 at j=0.7, "
    "higher above), and the reduction ratio — the share of the "
    "n(n-1)/2 pair space the blocker prunes — must clear 0.95. "
    "Scale-safe truth mining (r5): the exact-Jaccard truth set is "
    "mined only on a deterministic ~10k-doc stratum (Knuth "
    "multiplicative hash of doc_id mod a corpus-size-derived "
    "stride — engine-portable, the oracle states the same stratum), "
    "so the gate's own cost is bounded-constant O(stratum²) while "
    "the blocker it grades stays full-corpus: the reduction ratio "
    "is still measured on ALL candidates from the production LSH "
    "bucket join. Per-pair co-bucketing is independent of other "
    "docs, so stratum pair completeness is an unbiased estimate of "
    "corpus pair completeness. At sf<=0.1 the stride is 1 and the "
    "stratum IS the corpus (bit-identical to the r4 gate); a seed/"
    "banding regression drops completeness, a bucket-key regression "
    "floods candidates and drops the reduction ratio",
    ("dedup", "lsh", "evaluation", "documents"),
)
def lsh_blocking_quality(spark, sf_dir):
    import math

    from ....operators.dedup import banded_signatures, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    stride = max(1, math.ceil(n_docs / LSH_QUALITY_STRATUM))
    strat = d.filter(
        ((F.col("doc_id") * F.lit(_KNUTH)) % F.lit(4_294_967_296))
        % F.lit(stride)
        == 0
    )
    # Reduction ratio: FULL-corpus candidates — this is the linear
    # production path (band + bucket equi-join), never all-pairs.
    # Checkpoint the signature leg so the band self-join and the two
    # downstream count actions evaluate the Arrow signature pass once
    # (it used to run once per action — guide §5 caching: reused AND
    # expensive to recompute); the candidate set is counted twice
    # (reduction ratio + completeness semi-join), so checkpoint it too.
    banded = banded_signatures(
        d, "text", "doc_id", num_hashes=64, bands=16, shingle_n=3
    ).localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=False)
    )
    # Pair completeness: exact truth mined ONLY within the stratum
    # (O(stratum²) bounded), graded against the same candidate set.
    truth = (
        ngram_jaccard_pairs(
            strat,
            "text",
            "doc_id",
            shingle_n=3,
            threshold=0.7,
            max_gram_df=256,
            candidate_budget=50_000_000,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )

    n_stratum = strat.count()
    n_cand = cand.count()
    # one action for truth size + completeness hits (was two): a
    # left join against the checkpointed candidate set, counting
    # rows and matches in the same aggregate
    tr = truth.join(
        cand.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        F.count("*").alias("nt"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("nf"),
    ).collect()[0]
    n_truth, n_found = tr["nt"], tr["nf"]
    pc = n_found / n_truth if n_truth else 1.0
    rr = 1.0 - n_cand / (n_docs * (n_docs - 1) / 2.0)
    return d.sparkSession.createDataFrame(
        [(n_docs, n_stratum, n_truth, 0.9, 0.95, pc >= 0.9, rr >= 0.95)],
        "n_docs long, n_stratum long, n_true_pairs long, "
        "pc_floor double, rr_floor double, pc_floor_met boolean, "
        "rr_floor_met boolean",
    )


@_register(
    "dedup_survivorship_audit",
    """
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
             FROM documents),
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
    clusters AS (SELECT node AS doc_id, min(r) AS cluster_id
                 FROM reach GROUP BY node),
    sel AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id)
               AS rk
      FROM clusters c JOIN documents d USING (doc_id)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total
            FROM documents),
    absorbed AS (
      SELECT CAST(count(*) AS BIGINT) AS n_absorbed,
             CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_absorbed
      FROM sel WHERE rk > 1
    ),
    cl AS (SELECT CAST(count(*) AS BIGINT) AS n_clustered,
                  CAST(count(DISTINCT cluster_id) AS BIGINT)
                    AS n_canonical
           FROM sel)
    SELECT t.n_docs, cl.n_clustered, cl.n_canonical, a.n_absorbed,
           t.chars_total,
           t.chars_total - a.chars_absorbed AS chars_retained,
           CAST(floor((t.chars_total - a.chars_absorbed) * 1000000.0
                      / t.chars_total) AS BIGINT) AS retention_ppm
    FROM tot t, absorbed a, cl
    """,
    "Dedup survivorship audit — the 'what did dedup cost me' report "
    "every pipeline run should ship: after near-dup clustering "
    "(3-gram Jaccard >= 0.2, connected components) and longest-text "
    "canonical election, one row states corpus docs/chars, clustered "
    "and canonical counts, absorbed (deleted) docs, retained chars "
    "and the char-retention ppm — the number that goes on the run "
    "dashboard next to the dedup threshold. Reuses the exact pair "
    "graph + components + election of near_dup_canonical_docs — the "
    "pair graph comes from the materialized shared mining leg "
    "(_ngram_pair_leg); all integer arithmetic, exact oracle",
    ("dedup", "survivorship", "audit", "documents"),
)
def dedup_survivorship_audit(spark, sf_dir):
    from ....operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = _ngram_pair_leg(spark, sf_dir)
    labels = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    sel = labels.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = sel.withColumn("rk", F.row_number().over(w))
    tot = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    cl = ranked.agg(
        F.count("*").cast("long").alias("n_clustered"),
        F.countDistinct("cluster_id").cast("long").alias("n_canonical"),
        F.coalesce(
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars"))), F.lit(0)
        ).cast("long").alias("chars_absorbed"),
        F.sum((F.col("rk") > 1).cast("long")).cast("long").alias(
            "n_absorbed"
        ),
    )
    return tot.crossJoin(cl).select(
        "n_docs",
        "n_clustered",
        "n_canonical",
        "n_absorbed",
        "chars_total",
        (F.col("chars_total") - F.col("chars_absorbed")).alias(
            "chars_retained"
        ),
        F.floor(
            (F.col("chars_total") - F.col("chars_absorbed"))
            * F.lit(1000000.0)
            / F.col("chars_total")
        ).cast("long").alias("retention_ppm"),
    )


@_register(
    "blocking_scaled_key_pairs",
    """
    WITH b AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 1) AS tok1,
             split_part(p_name, ' ', 2) AS tok2,
             p_brand
      FROM part
    )
    SELECT a.p_partkey AS key_a, c.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS edit_dist
    FROM b a JOIN b c
      ON a.tok1 = c.tok1 AND a.tok2 = c.tok2 AND a.p_brand = c.p_brand
     AND a.p_partkey < c.p_partkey
    WHERE levenshtein(a.p_name, c.p_name) <= 2
    """,
    "Entity-resolution blocking, scalable-key tier: candidates come "
    "from an equi-join on (first token, second token, brand) — key "
    "entropy grows with the name space, so block sizes stay BOUNDED "
    "as the table scales and the per-block quadratic verifier cost "
    "stays O(n)·avg_blk instead of O(n²/blocks). Trades recall (ed≤2 "
    "edits inside the first two tokens move a record out of its "
    "block) for a plan that survives 100 TB; run beside the loose-"
    "key tier (blocking_candidate_pairs) when auditing recall. Same "
    "shuffle shape: one hash partition by composite key, no "
    "cross product.",
    ("join", "text", "similarity", "dedup"),
)
def blocking_scaled_key_pairs(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok1"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("tok2"),
        "p_brand",
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "tok1",
        "tok2",
        "p_brand",
    )
    c = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "tok1",
        "tok2",
        "p_brand",
    )
    return (
        a.join(c, ["tok1", "tok2", "p_brand"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("edit_dist") <= 2)
        .select("key_a", "key_b", "edit_dist")
    )
