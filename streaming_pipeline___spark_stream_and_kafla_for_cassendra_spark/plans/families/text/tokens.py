"""Tokenization and token statistics: whitespace and BPE tokenizers,
language ID, n-gram and lexicon scoring, array operations on tokens.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import (
    HTML_ENTITIES,
    MARKUP_PATTERNS,
    lang_id_heuristic,
    strip_markup,
    token_count,
)
from ... import legs as _legs
from ...core import _langid_oracle, _r6, _register, _t


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

    from ....sources.tables import register_views

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
    from ....operators.scale import dense_ids

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return dense_ids(d, "doc_id")


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
    from ....functions import bpe as _bpe

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
    from ....functions.bpe import bpe_encode

    d = _t(spark, sf_dir, "documents")
    merges = _bpe_merges_list(spark, sf_dir)
    return bpe_encode(d, merges, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Collocation mining (PMI)
# ---------------------------------------------------------------------------

@_register(
    "pmi_bigrams_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    ucnt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY 1
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
      FROM toks WHERE len(t) >= 2
    ),
    bcnt AS (
      SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM bcnt)
    SELECT w1, w2, c_xy,
           floor(ln(c_xy * 1.0 * n / (u1.c_w * u2.c_w)) * 1000000 + 0.5)
             / 1000000.0 AS pmi
    FROM bcnt, tot
    JOIN ucnt u1 ON w1 = u1.w
    JOIN ucnt u2 ON w2 = u2.w
    WHERE c_xy >= 5
    """,
    "PMI collocation mining over adjacent token pairs: bigrams are "
    "extracted IN-ROW via an index higher-order transform (the "
    "token-sized explode never shuffles raw shingles), counted with "
    "map-side combine, and joined to the unigram vocabulary — "
    "vocabulary-sized tables, not corpus-sized. PMI derives from "
    "integer counts through one ln() expression; support floor ≥5 "
    "keeps the output the interesting collocations",
    ("text", "nlp", "agg", "documents"),
)
def pmi_bigrams_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda x: x != ""
        ).alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    bi = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w1"),
                    F.element_at(F.col("t"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    )
    bcnt = bi.groupBy(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).agg(F.count("*").alias("c_xy"))
    tot = bcnt.agg(F.sum("c_xy").alias("n"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    pmi = F.log(
        F.col("c_xy") * F.lit(1.0) * F.col("n") / (F.col("c_w1") * F.col("c_w2"))
    )
    return (
        bcnt.filter(F.col("c_xy") >= 5)
        .crossJoin(F.broadcast(tot))
        .join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", "c_xy", _r6(pmi).alias("pmi"))
    )


# ---------------------------------------------------------------------------
# Lexicon sentiment scoring (EDBT'16 Spark sentiment pipeline shape)
# ---------------------------------------------------------------------------

_SENTIMENT_LEXICON = {
    "good": 3, "great": 4, "excellent": 5, "best": 4, "fine": 2,
    "special": 2, "regular": 1, "even": 1,
    "bad": -3, "slow": -2, "unusual": -1, "final": -1, "close": -1,
    "furious": -4, "ironic": -2, "dogged": -2, "bold": 1, "quick": 2,
}


def _sentiment_oracle() -> str:
    cases = " ".join(
        f"WHEN '{w}' THEN {s}" for w, s in _SENTIMENT_LEXICON.items()
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CASE w {cases} ELSE 0 END AS s,
             CASE WHEN (CASE w {cases} ELSE 0 END) <> 0 THEN 1 ELSE 0 END
               AS hit
      FROM toks
    )
    SELECT doc_id, lang,
           CAST(sum(s) AS BIGINT) AS sentiment_sum,
           CAST(sum(hit) AS BIGINT) AS n_scored_tokens,
           CASE WHEN sum(s) > 0 THEN 'positive'
                WHEN sum(s) < 0 THEN 'negative'
                ELSE 'neutral' END AS polarity
    FROM scored GROUP BY 1, 2
    """


@_register(
    "sentiment_lexicon_documents",
    _sentiment_oracle(),
    "Lexicon-based sentiment scoring (the large-scale Spark "
    "sentiment-pipeline shape, EDBT'16): tokens map through an "
    "embedded signed lexicon via a scan-local CASE (the lexicon "
    "compiles into the expression — zero joins, zero shuffles before "
    "the per-doc aggregate), summing to a per-document polarity. "
    "Integer scores → bit-exact cross-engine. Swap the embedded "
    "lexicon for a broadcast map at real vocabulary sizes — the plan "
    "shape is unchanged",
    ("text", "nlp", "sentiment", "documents"),
)
def sentiment_lexicon_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    score = F.lit(0)
    for w, s in _SENTIMENT_LEXICON.items():
        score = F.when(F.col("w") == w, s).otherwise(score)
    scored = toks.select(
        "doc_id", "lang", score.alias("s"), (score != 0).cast("int").alias("hit")
    )
    agg = scored.groupBy("doc_id", "lang").agg(
        F.sum("s").alias("sentiment_sum"),
        F.sum("hit").alias("n_scored_tokens"),
    )
    return agg.select(
        "doc_id",
        "lang",
        "sentiment_sum",
        "n_scored_tokens",
        F.when(F.col("sentiment_sum") > 0, "positive")
        .when(F.col("sentiment_sum") < 0, "negative")
        .otherwise("neutral")
        .alias("polarity"),
    )


# ---------------------------------------------------------------------------
# HTML/markup stripping round-trip
# ---------------------------------------------------------------------------

def _strip_markup_sql(expr: str) -> str:
    """DuckDB twin of strip_markup, generated from the SAME pattern
    tables so the two engines cannot drift."""
    out = expr
    for pattern in MARKUP_PATTERNS:
        p = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', ' ', 'g')"
    for entity, repl in HTML_ENTITIES:
        e = entity.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"replace({out}, '{e}', '{r}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


_HTML_WRAP_SQL = (
    "'<html><body onload=\"x()\"><h1>Doc ' || CAST(doc_id AS VARCHAR) || "
    "'</h1><script type=\"text/javascript\">var x = 1 < 2;</script>"
    "<style>p { color: red; }</style><p class=\"body\">' || text || "
    "'</p><!-- trailing comment --><div>&amp; &lt;escaped&gt; "
    "&quot;quoted&quot; &#39;tick&#39;&nbsp;end</div></body></html>'"
)


@_register(
    "html_strip_documents",
    f"""
    SELECT doc_id,
           CAST(length(clean) AS INTEGER) AS clean_len,
           md5(clean) AS clean_hash,
           substr(clean, 1, 32) AS head
    FROM (
      SELECT doc_id, {_strip_markup_sql(_HTML_WRAP_SQL)} AS clean
      FROM documents
    )
    """,
    "Web-corpus markup removal: documents are wrapped in a "
    "deterministic HTML shell (tags, a script block whose CONTENT "
    "must vanish, a style block, comments, entities), then cleaned by "
    "the strip_markup chain — script/style+content removal, comment "
    "and tag stripping, entity decode, whitespace collapse — entirely "
    "as scan-local regexp codegen. The oracle replays the identical "
    "pattern tables (generated from the same constants), verifying "
    "byte-equality via md5.",
    ("text-cleaning", "documents"),
)
def html_strip_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body onload="x()"><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><script type="text/javascript">var x = 1 < 2;</script>'),
        F.lit('<style>p { color: red; }</style><p class="body">'),
        F.col("text"),
        F.lit("</p><!-- trailing comment --><div>&amp; &lt;escaped&gt; "),
        F.lit("&quot;quoted&quot; &#39;tick&#39;&nbsp;end</div></body></html>"),
    )
    clean = strip_markup(html)
    return d.select(
        "doc_id",
        F.length(clean).alias("clean_len"),
        F.md5(clean.cast("binary")).alias("clean_hash"),
        F.substring(clean, 1, 32).alias("head"),
    )


_ZIPF_K = 500


@_register(
    "zipf_slope_vocab",
    f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x <> '')) AS token
      FROM documents
    ),
    tc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
           FROM tok GROUP BY 1),
    top AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
      FROM tc
      QUALIFY rank <= {_ZIPF_K}
    ),
    pts AS (
      SELECT rank, ln(CAST(rank AS DOUBLE)) AS x,
             ln(CAST(cnt AS DOUBLE)) AS y
      FROM top
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY rank)),
                         (a, b) -> a + b) AS sx,
             list_reduce(list_prepend(0.0::DOUBLE, list(y ORDER BY rank)),
                         (a, b) -> a + b) AS sy,
             list_reduce(list_prepend(0.0::DOUBLE, list(x * x ORDER BY rank)),
                         (a, b) -> a + b) AS sxx,
             list_reduce(list_prepend(0.0::DOUBLE, list(x * y ORDER BY rank)),
                         (a, b) -> a + b) AS sxy,
             list_reduce(list_prepend(0.0::DOUBLE, list(y * y ORDER BY rank)),
                         (a, b) -> a + b) AS syy
      FROM pts
    )
    SELECT k,
           floor((k * sxy - sx * sy) / (k * sxx - sx * sx)
                 * 1000000 + 0.5) / 1000000.0 AS zipf_slope,
           floor((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
                 * 1000000 + 0.5) / 1000000.0 AS intercept,
           floor((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000.0 AS r2
    FROM sums
    """,
    "Zipf's-law fit over the corpus vocabulary: OLS slope of "
    "ln(frequency) vs ln(rank) for the top-500 tokens (natural "
    "corpora sit near −1; a far-off slope flags synthetic or "
    "degenerate text) with intercept and R². Companion to the Heaps-"
    "law vocab-growth operator. The top-500 selection is a lossless "
    "two-stage top-k; all five OLS sums fold in rank order "
    "(F.aggregate ≡ list_reduce) so the doubles — including ln of "
    "identical integer-derived values — match DuckDB bit-for-bit. "
    "One token aggregate, then 500-row arithmetic",
    ("text", "stats", "zipf", "documents"),
)
def zipf_slope_vocab(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    from ....functions.text import tokens

    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    tc = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    pw = Window.partitionBy("_pid").orderBy(F.desc("cnt"), F.asc("token"))
    gw = Window.orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        tc.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prk", F.row_number().over(pw))
        .filter(F.col("_prk") <= _ZIPF_K)
        .drop("_pid", "_prk")
        .withColumn("rank", F.row_number().over(gw))
        .filter(F.col("rank") <= _ZIPF_K)
    )
    pts = top.select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )

    def fold(expr_col):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("rank", expr_col.alias("v")))),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        )

    sums = pts.agg(
        F.count("*").alias("k"),
        fold(F.col("x")).alias("sx"),
        fold(F.col("y")).alias("sy"),
        fold(F.col("x") * F.col("x")).alias("sxx"),
        fold(F.col("x") * F.col("y")).alias("sxy"),
        fold(F.col("y") * F.col("y")).alias("syy"),
    )
    k = F.col("k").cast("double")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("k").cast("long").alias("k"),
        _r6(slope).alias("zipf_slope"),
        _r6((F.col("sy") - slope * F.col("sx")) / k).alias("intercept"),
        _r6(
            (k * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (k * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (k * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (k * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
    )


def _fertility_oracle() -> str:

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
    ),
    langs AS (
      SELECT dd.lang, dd.doc_id,
             coalesce(sum(p.n), 0) AS bpe, count(p.n) AS words
      FROM documents dd LEFT JOIN perdoc p ON p.doc_id = dd.doc_id
      GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS n_words,
           CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
           floor(sum(bpe) / CAST(sum(words) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS fertility
    FROM langs GROUP BY 1
    """


@_register(
    "tokenizer_fertility_by_lang",
    _fertility_oracle(),
    "Tokenizer fertility by language — BPE pieces per whitespace "
    "word, the standard multilingual-tokenizer health metric (a "
    "language with fertility far above the corpus mean is being "
    "shredded into characters and will train poorly): trains the "
    "corpus BPE (25 merges), encodes every document, and reports "
    "per-language doc/word/piece totals and the fertility ratio. "
    "Oracle: the same generated CTE chain that checks "
    "bpe_token_counts_documents, aggregated per language with exact "
    "integer sums and one floor-rounded division. Costed like the "
    "other BPE queries (re-trains the merge table) — excluded from "
    "the default bench, fully oracle-checked for correctness",
    ("text", "bpe", "tokenizer", "multilingual", "documents"),
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    from ....functions.bpe import bpe_encode

    d = _t(spark, sf_dir, "documents")
    merges = _bpe_merges_list(spark, sf_dir)
    enc = bpe_encode(d, merges, id_col="doc_id", text_col="text")
    return (
        enc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            (
                F.floor(
                    F.sum("n_bpe_tokens")
                    / F.sum("n_words").cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("fertility"),
        )
    )
