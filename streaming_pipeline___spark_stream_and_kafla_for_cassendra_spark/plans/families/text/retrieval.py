"""Retrieval: TF-IDF, BM25 and hybrid rank fusion, inverted indexes,
boolean postings and keyword-in-context.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import tokens
from ...core import BLOCKLIST_WEIGHTS, _r6, _register, _t


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


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ∪ dense cosine fused by reciprocal-rank fusion
# ---------------------------------------------------------------------------

def _rrf_oracle() -> str:

    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
    stats AS (SELECT avg(dlen) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM toks
      WHERE w IN {_BM25_QUERY!r}
      GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    bm25 AS (
      SELECT tf.doc_id,
             sum(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dlen / s.avgdl))
             ) AS score
      FROM tf
      JOIN df USING (w)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    sparse AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS sparse_rank
      FROM bm25
      QUALIFY sparse_rank <= 20
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT c.vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY list_cosine_similarity(q.emb,
                        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
             ) AS INTEGER) AS dense_rank
      FROM embeddings c, q WHERE c.vec_id <> 0
      QUALIFY dense_rank <= 20
    )
    SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
           s.sparse_rank, d.dense_rank,
           floor((coalesce(1.0 / (60 + s.sparse_rank), 0.0)
                  + coalesce(1.0 / (60 + d.dense_rank), 0.0))
                 * 1000000 + 0.5) / 1000000.0 AS rrf_score
    FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    """


@_register(
    "hybrid_search_rrf",
    _rrf_oracle(),
    "Hybrid retrieval: the BM25 sparse list (same scorer/constants as "
    "bm25_search_documents) and the exact-cosine dense list for query "
    "vector 0 are fused by reciprocal-rank fusion "
    "(Σ 1/(60+rank)) — the standard fusion used when lexical and "
    "embedding retrieval disagree. Each list is its own top-20 "
    "pipeline (broadcast stats / per-partition top-k heaps); the "
    "fusion join touches 2k rows, ranks are integers so the fused "
    "score is bit-deterministic cross-engine",
    ("retrieval", "hybrid", "rrf", "documents", "embeddings"),
)
def hybrid_search_rrf(spark, sf_dir):
    from ....operators.similarity import brute_force_topk

    sparse = (
        bm25_search_documents(spark, sf_dir)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
            .cast("int")
            .alias("sparse_rank"),
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    dense = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("int").alias("dense_rank"),
        )
    )
    fused = sparse.join(dense, "doc_id", "full_outer")
    rrf = F.coalesce(1.0 / (60 + F.col("sparse_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("dense_rank")), F.lit(0.0)
    )
    return fused.select(
        "doc_id", "sparse_rank", "dense_rank", _r6(rrf).alias("rrf_score")
    )


# ---------------------------------------------------------------------------
# AND-query posting-list execution audit over the token inverted index
# ---------------------------------------------------------------------------

_AND_QUERIES = (
    ("q0", "spark", "batch"),
    ("q1", "merge", "slow"),
    ("q2", "hash", "spark"),
    ("q3", "batch", "merge"),
    ("q4", "slow", "hash"),
)


def _and_query_sql() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{qid}' AS qid, '{t1}' AS t1, '{t2}' AS t2"
        for qid, t1, t2 in _AND_QUERIES
    )
    return f"""
    WITH postings AS (
      SELECT tok, doc_id FROM (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x <> '')) AS tok
        FROM documents
      )
    ),
    queries AS ({rows}),
    lens AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY 1
    ),
    inter AS (
      SELECT q.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM queries q
      JOIN postings p1 ON p1.tok = q.t1
      JOIN postings p2 ON p2.tok = q.t2 AND p2.doc_id = p1.doc_id
      GROUP BY 1
    ),
    tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM postings)
    SELECT q.qid, q.t1, q.t2,
           coalesce(l1.df, 0) AS df1, coalesce(l2.df, 0) AS df2,
           coalesce(i.n_hits, 0) AS n_hits,
           least(coalesce(l1.df, 0), coalesce(l2.df, 0)) AS probe_cost,
           t.n_docs AS scan_cost,
           CAST((t.n_docs - least(coalesce(l1.df, 0), coalesce(l2.df, 0)))
                * 1000000 // t.n_docs AS BIGINT) AS saved_ppm
    FROM queries q
    LEFT JOIN lens l1 ON l1.tok = q.t1
    LEFT JOIN lens l2 ON l2.tok = q.t2
    LEFT JOIN inter i ON i.qid = q.qid
    CROSS JOIN tot t
    """


@_register(
    "boolean_and_query_postings",
    _and_query_sql(),
    "AND-query execution audit over the token inverted index — "
    "search-engine conjunctive retrieval economics: for 5 fixed "
    "two-term queries, the posting lengths (document frequencies), "
    "the exact intersection size (doc-keyed posting join — the "
    "distributed equivalent of a merge intersection), and the "
    "driving cost comparison: probing the SHORTER posting list vs "
    "scanning the corpus, with the saving in ppm. This is the "
    "query-side companion to `inverted_index_tokens` (which builds "
    "the index) and `bm25_search_documents` (ranked retrieval); "
    "the smallest-list-first rule here is the same selectivity "
    "ordering a CBO applies to conjunctive predicates. Postings "
    "shuffle once on token; the intersection joins on doc_id.",
    ("search", "index", "documents"),
)
def boolean_and_query_postings(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    postings = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda x: x != "",
                )
            ).alias("tok"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    queries = spark.createDataFrame(
        list(_AND_QUERIES), "qid string, t1 string, t2 string"
    )
    lens = postings.groupBy("tok").agg(F.count("*").alias("df"))
    p1 = postings.select(F.col("tok").alias("t1"), F.col("doc_id").alias("d1"))
    p2 = postings.select(F.col("tok").alias("pt2"), F.col("doc_id").alias("d2"))
    inter = (
        F.broadcast(queries)
        .join(p1, "t1")
        .join(
            p2,
            (F.col("pt2") == F.col("t2")) & (F.col("d2") == F.col("d1")),
        )
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    tot = postings.agg(F.countDistinct("doc_id").alias("n_docs"))
    l1 = lens.select(F.col("tok").alias("t1"), F.col("df").alias("df1"))
    l2 = lens.select(F.col("tok").alias("t2"), F.col("df").alias("df2"))
    probe = F.least(
        F.coalesce(F.col("df1"), F.lit(0)), F.coalesce(F.col("df2"), F.lit(0))
    )
    return (
        queries.join(F.broadcast(l1), "t1", "left")
        .join(F.broadcast(l2), "t2", "left")
        .join(F.broadcast(inter), "qid", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "qid",
            "t1",
            "t2",
            F.coalesce(F.col("df1"), F.lit(0)).cast("long").alias("df1"),
            F.coalesce(F.col("df2"), F.lit(0)).cast("long").alias("df2"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
            probe.cast("long").alias("probe_cost"),
            F.col("n_docs").cast("long").alias("scan_cost"),
            F.expr(
                "CAST((n_docs - least(coalesce(df1, 0), coalesce(df2, 0))) "
                "* 1000000 div n_docs AS BIGINT)"
            ).alias("saved_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# KWIC concordance extraction for the policy terms
# ---------------------------------------------------------------------------

_KWIC_CTX = 3
_KWIC_TERMS_SQL = ", ".join(f"'{t}'" for t in sorted(BLOCKLIST_WEIGHTS))


@_register(
    "kwic_concordance_documents",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    hits AS (
      SELECT doc_id, l,
             unnest(generate_series(1, len(l))) AS pos,
             unnest(l) AS tok
      FROM toks
    )
    SELECT doc_id, CAST(pos AS INTEGER) AS pos, tok AS term,
           coalesce(array_to_string(
               l[greatest(pos - {_KWIC_CTX}, 1):pos - 1], ' '), '')
             AS left_ctx,
           coalesce(array_to_string(
               l[pos + 1:least(pos + {_KWIC_CTX},
                               CAST(len(l) AS BIGINT))], ' '), '')
             AS right_ctx
    FROM hits
    WHERE tok IN ({_KWIC_TERMS_SQL})
    """,
    "KWIC (keyword-in-context) concordance for the policy terms: "
    f"every hit of the blocklist vocabulary with {_KWIC_CTX} tokens "
    "of left/right context — the human-review surface behind every "
    "moderation queue (reviewers adjudicate contexts, not bare "
    "counts; `blocklist_screen_documents` scores, this SHOWS). "
    "Pure scan-local array slicing per document, zero joins — at "
    "100 TB the term filter makes it a sparse extraction whose "
    "output is hits-sized, not corpus-sized.",
    ("text", "extraction", "policy", "documents"),
)
def kwic_concordance_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("l"),
    )
    hits = toks.select(
        "doc_id",
        "l",
        F.posexplode("l").alias("pos0", "tok"),
    ).select(
        "doc_id", "l", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    terms = sorted(BLOCKLIST_WEIGHTS)
    left = F.array_join(
        F.slice(
            F.col("l"),
            F.greatest(F.col("pos") - _KWIC_CTX, F.lit(1)),
            F.greatest(
                F.least(F.col("pos") - 1, F.lit(_KWIC_CTX)), F.lit(0)
            ),
        ),
        " ",
    )
    right = F.array_join(
        F.slice(
            F.col("l"),
            F.col("pos") + 1,
            F.greatest(
                F.least(
                    F.size("l") - F.col("pos"), F.lit(_KWIC_CTX)
                ),
                F.lit(0),
            ),
        ),
        " ",
    )
    return hits.filter(F.col("tok").isin(*terms)).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("tok").alias("term"),
        left.alias("left_ctx"),
        right.alias("right_ctx"),
    )
