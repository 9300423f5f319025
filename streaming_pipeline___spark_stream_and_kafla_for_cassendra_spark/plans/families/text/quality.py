"""Text-quality signals: repetition, entropy, surprisal, readability,
blocklists, vocabulary growth and divergence between sources.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ....functions.text import (
    flesch_columns,
    punct_ratio,
    quality_bucket,
    stopword_ratio,
    tokens,
)
from ...core import BLOCKLIST_WEIGHTS, _STOP_SQL, _r6, _register, _stable_ratio6, _t


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
    from ....functions.text import pii_scrub

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


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib proxy for repetition/entropy)
# ---------------------------------------------------------------------------

# Calibration corpus for the compression-ratio oracle row: three
# fixed ASCII texts spanning the compressibility spectrum, with
# their zlib-level-6 DEFLATE sizes pinned as literals (computed once
# with the pinned settings; DEFLATE itself is not SQL-expressible,
# but its output on a KNOWN input is a constant the oracle can
# state). CAL3 is a deterministic md5-chain hex string (low
# compressibility), reproduced in tests from the same seed.
_CAL1 = "a" * 2000  # degenerate repetition   → 23 bytes (ratio 0.0115)
_CAL2 = (
    (
        "the quick brown fox jumps over the lazy dog while a large "
        "scale training corpus pipeline measures entropy and "
        "repetition with a cheap deflate proxy signal "
    )
    * 8
)[:1000]  # prose-like                        → 131 bytes (ratio 0.131)


def _cal3() -> str:
    import hashlib

    h, parts = b"spark-graft-cal3", []
    for _ in range(16):
        h = hashlib.md5(h).digest()
        parts.append(h.hex())
    return "".join(parts)  # 512 hex chars     → 294 bytes (ratio 0.574219)


@_register(
    "compression_ratio_documents",
    """
    WITH corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS corpus_docs,
             TRUE AS corpus_mean_ok
      FROM documents
    ),
    calib(doc_id, n_chars, compressed_bytes, compression_ratio) AS (
      VALUES
        (CAST(-1 AS BIGINT), CAST(2000 AS BIGINT),
         CAST(23 AS BIGINT), CAST(0.0115 AS DOUBLE)),
        (CAST(-2 AS BIGINT), CAST(1000 AS BIGINT),
         CAST(131 AS BIGINT), CAST(0.131 AS DOUBLE)),
        (CAST(-3 AS BIGINT), CAST(512 AS BIGINT),
         CAST(294 AS BIGINT), CAST(0.574219 AS DOUBLE))
    )
    SELECT calib.*, corpus.* FROM calib CROSS JOIN corpus
    """,
    "Compression-ratio quality signal: per-document "
    "len(zlib(text))/len(text) via one Arrow-batched mapInPandas "
    "pass — the Gopher/Dolma-style cheap proxy for boilerplate and "
    "repetition (highly repetitive documents compress far below "
    "typical prose). Deterministic (zlib level pinned), zero "
    "shuffles. Full oracle row since r5 (was rows-only): three "
    "fixed calibration texts spanning the compressibility spectrum "
    "(degenerate repetition / prose / md5-chain hex) ride through "
    "the SAME production pass unioned into the corpus, and their "
    "exact DEFLATE byte counts are pinned as oracle literals — a "
    "level/encoding/rounding regression breaks the bit-exact match; "
    "the corpus side stays in the plan via SQL-derivable corpus_docs "
    "and the <=0.9 mean-ratio ceiling boolean (per-document corpus "
    "values remain graded by the bounds/determinism companion "
    "`compression_ratio_floor`, families/text/quality.py)",
    ("text", "quality", "pandas_udf", "documents"),
)
def compression_ratio_documents(spark, sf_dir):
    from ....functions.text import compression_ratio

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    calib = d.sparkSession.createDataFrame(
        [(-1, _CAL1), (-2, _CAL2), (-3, _cal3())],
        "doc_id long, text string",
    )
    # Same production pass for both branches, but each corpus payload
    # is compressed exactly ONCE: the 3-row calibration frame and the
    # corpus aggregate run as separate invocations of the same
    # operator rather than filtering a shared union twice (an
    # uncached DataFrame referenced by two branches re-executes its
    # whole lineage per branch — 2× the zlib scan for nothing).
    corpus = compression_ratio(d, text_col="text", id_col="doc_id").agg(
        F.count("*").cast("long").alias("corpus_docs"),
        (F.avg("compression_ratio") <= 0.9).alias("corpus_mean_ok"),
    )
    return compression_ratio(
        calib, text_col="text", id_col="doc_id"
    ).crossJoin(corpus)


# ---------------------------------------------------------------------------
# Flesch readability per document
# ---------------------------------------------------------------------------

@_register(
    "readability_flesch_documents",
    """
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER)
               AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INTEGER)
               AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER)
               AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN
             floor((206.835 - 1.015 * (n_words / n_sentences)
                            - 84.6 * (n_syllables / n_words))
                   * 10000 + 0.5) / 10000.0
           END AS flesch,
           CASE WHEN n_words > 0 THEN
             floor((0.39 * (n_words / n_sentences)
                    + 11.8 * (n_syllables / n_words) - 15.59)
                   * 10000 + 0.5) / 10000.0
           END AS grade_level
    FROM c
    """,
    "Flesch reading-ease + Flesch-Kincaid grade level per document: "
    "word/sentence/vowel-group counts from three regexp_extract_all "
    "passes (scan-local codegen, zero shuffle), scores as pure IEEE "
    "arithmetic over those integers — the classic readability quality "
    "gate for pre-training corpora, bit-exact against the oracle.",
    ("text-quality", "documents"),
)
def readability_flesch_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w, s, sy = flesch_columns("text")
    base = d.select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        sy.alias("n_syllables"),
    )
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            r4(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw),
        ).alias("flesch"),
        F.when(
            F.col("n_words") > 0,
            r4(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)),
        ).alias("grade_level"),
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate vs the corpus top-1000 vocabulary
# ---------------------------------------------------------------------------

@_register(
    "oov_rate_documents",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))
             AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rk
        FROM tok GROUP BY token
      ) WHERE rk <= 1000
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
           floor(count(*) FILTER (WHERE v.token IS NULL) / count(*)
                 * 1000000 + 0.5) / 1000000.0 AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
    "Out-of-vocabulary rate per document against the corpus's own "
    "top-1000 token vocabulary (count-desc, token-asc deterministic "
    "tie order) — the tokenizer-coverage / domain-shift signal used "
    "to gate pre-training shards. Plan: one token-count aggregate "
    "sized by the vocabulary, broadcast back over the exploded scan, "
    "one per-doc re-aggregate. Vocabulary selection is a LOSSLESS "
    "two-stage top-k (per-partition top-1000 under the same tie "
    "order, then a merge window over ≤ partitions×1000 survivors) — "
    "no single-partition sort of the full distinct-token table. The "
    "token stream shuffles at most once; the vocab table is KB-sized "
    "at any corpus size.",
    ("text-quality", "documents", "vocab"),
)
def oov_rate_documents(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    # two-stage top-k: each partition keeps its own top-1000 under
    # the SAME (count desc, token asc) order — any global top-1000
    # member is a partition top-1000 member, so the prune is
    # lossless — then the final window ranks ≤ #partitions×1000
    # survivors, never the corpus vocabulary
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    pw = Window.partitionBy("_pid").orderBy(F.desc("n"), F.asc("token"))
    pruned = (
        counts.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prk", F.row_number().over(pw))
        .filter(F.col("_prk") <= 1000)
        .drop("_pid", "_prk")
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    vocab = (
        pruned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 1000)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "token", "left")
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            n_oov.alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            _r6(F.col("n_oov") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus drift: per-source KL divergence of unigram distributions
# ---------------------------------------------------------------------------

@_register(
    "kl_divergence_source_unigrams",
    """
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    sc AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    cc AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY 1),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS big_n FROM cc),
    terms AS (
      SELECT s.source, s.token,
             s.c,
             (s.c / CAST(sum(s.c) OVER (PARTITION BY s.source) AS DOUBLE))
               * log2((s.c / CAST(sum(s.c) OVER (PARTITION BY s.source)
                                  AS DOUBLE))
                      / (c2.ct / CAST(t.big_n AS DOUBLE))) AS term
      FROM sc s JOIN cc c2 USING (token) CROSS JOIN tot t
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS INTEGER) AS vocab_size,
           floor(list_reduce(list_prepend(0.0, list(term ORDER BY token)),
                             (a, x) -> a + x) * 1000000 + 0.5) / 1000000.0
             AS kl_bits
    FROM terms GROUP BY source
    """,
    "Corpus-drift screen: KL(source ‖ corpus) in bits between each "
    "source's unigram distribution and the pooled corpus distribution "
    "— the domain-shift signal used to spot an over/under-represented "
    "slice before training. Per-(source,token) counts shuffle once "
    "(map-side combined); the vocabulary-sized corpus table joins "
    "back broadcast; per-source terms p_s·log₂(p_s/p_c) fold in "
    "token order so both engines add identical doubles in identical "
    "order. The source's support is a subset of the corpus's, so "
    "every term is finite.",
    ("text-quality", "drift", "documents"),
)
def kl_divergence_source_unigrams(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("token"),
    )
    sc = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    cc = sc.groupBy("token").agg(F.sum("c").alias("ct"))
    tot = cc.agg(F.sum("ct").alias("big_n"))
    ns = F.sum("c").over(Window.partitionBy("source"))
    ps = F.col("c") / ns.cast("double")
    pc = F.col("ct") / F.col("big_n").cast("double")
    terms = (
        sc.join(F.broadcast(cc), "token")
        .crossJoin(F.broadcast(tot))
        .withColumn("term", ps * F.log2(ps / pc))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").cast("int").alias("vocab_size"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("token"), F.col("term").alias("v"))
                    )
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ).alias("kl"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "vocab_size",
            _r6(F.col("kl")).alias("kl_bits"),
        )
    )


_BLOCK_FLAG_DECI = 100


def _blocklist_sql() -> str:
    """DuckDB twin generated from the SAME weight table."""
    hits = " + ".join(
        f"len(list_filter(toks, x -> x = '{t}'))"
        for t in sorted(BLOCKLIST_WEIGHTS)
    )
    distinct_hit = " + ".join(
        f"CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END"
        for t in sorted(BLOCKLIST_WEIGHTS)
    )
    sev = " + ".join(
        f"len(list_filter(toks, x -> x = '{t}')) * {w}"
        for t, w in sorted(BLOCKLIST_WEIGHTS.items())
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST({hits} AS INTEGER) AS hits_total,
           CAST({distinct_hit} AS INTEGER) AS distinct_terms_hit,
           CAST({sev} AS BIGINT) AS severity_deci,
           ({sev}) >= {_BLOCK_FLAG_DECI} AS flagged
    FROM t
    """


@_register(
    "blocklist_screen_documents",
    _blocklist_sql(),
    "Policy / blocklist screening: per-document hit counts against a "
    "weighted term list (weights in integer tenths so the severity "
    "score is an exact integer), with a flag at severity ≥ 10.0 — the "
    "content-filter gate of a training-data pipeline. Token-exact "
    "matching (split + in-row filters), zero shuffle, and the oracle "
    "SQL is GENERATED from the same weight table so the two engines "
    "cannot drift. At 100 TB this is a pure scan-local map; the term "
    "list compiles into the row expression, no join.",
    ("text-quality", "policy", "documents"),
)
def blocklist_screen_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    base = d.select("doc_id", toks.alias("toks"))
    def _match(term):
        return lambda x: x == F.lit(term)

    per_term = {
        t: F.size(F.filter(F.col("toks"), _match(t)))
        for t in sorted(BLOCKLIST_WEIGHTS)
    }
    hits_total = sum(per_term.values(), F.lit(0))
    distinct_hit = sum(
        (F.when(per_term[t] > 0, 1).otherwise(0) for t in sorted(BLOCKLIST_WEIGHTS)),
        F.lit(0),
    )
    severity = sum(
        (per_term[t] * F.lit(w) for t, w in sorted(BLOCKLIST_WEIGHTS.items())),
        F.lit(0),
    )
    return base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        hits_total.cast("int").alias("hits_total"),
        distinct_hit.cast("int").alias("distinct_terms_hit"),
        severity.cast("long").alias("severity_deci"),
        (severity >= _BLOCK_FLAG_DECI).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve + Heaps'-law slope
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


@_register(
    "vocab_growth_heaps_documents",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    bounds AS (
      SELECT min(doc_id) AS lo, max(doc_id) + 1 AS hi FROM tok
    ),
    bucketed AS (
      SELECT CAST(least(floor(({_HEAPS_BUCKETS} * (doc_id - lo))
                              / (hi - lo)),
                        {_HEAPS_BUCKETS - 1}) AS INTEGER) AS bucket,
             token
      FROM tok CROSS JOIN bounds
    ),
    per_bucket AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok FROM bucketed GROUP BY 1
    ),
    first_seen AS (
      SELECT min(bucket) AS bucket, token FROM bucketed GROUP BY token
    ),
    new_vocab AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY 1
    ),
    cum AS (
      SELECT p.bucket,
             CAST(sum(p.n_tok) OVER (ORDER BY p.bucket) AS BIGINT) AS cum_tokens,
             CAST(sum(coalesce(v.n_new, 0)) OVER (ORDER BY p.bucket) AS BIGINT)
               AS cum_vocab
      FROM per_bucket p LEFT JOIN new_vocab v USING (bucket)
    ),
    pts AS (
      SELECT bucket, cum_tokens, cum_vocab,
             log2(CAST(cum_tokens AS DOUBLE)) AS x,
             log2(CAST(cum_vocab AS DOUBLE)) AS y
      FROM cum
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(0.0, list(x ORDER BY bucket)),
                         (a, e) -> a + e) AS sx,
             list_reduce(list_prepend(0.0, list(y ORDER BY bucket)),
                         (a, e) -> a + e) AS sy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY bucket)),
                         (a, e) -> a + e) AS sxx,
             list_reduce(list_prepend(0.0, list(x * y ORDER BY bucket)),
                         (a, e) -> a + e) AS sxy
      FROM pts
    )
    SELECT p.bucket, p.cum_tokens, p.cum_vocab,
           floor(p.x * 1000000 + 0.5) / 1000000.0 AS log2_tokens,
           floor(p.y * 1000000 + 0.5) / 1000000.0 AS log2_vocab,
           floor((f.sxy - f.sx * (f.sy / f.k))
                 / (f.sxx - f.sx * (f.sx / f.k)) * 1000000 + 0.5) / 1000000.0
             AS heaps_beta
    FROM pts p CROSS JOIN folds f
    """,
    "Vocabulary growth curve + Heaps'-law exponent: documents split "
    "into 10 doc_id-range buckets, per-bucket cumulative token and "
    "distinct-vocabulary counts (a token's bucket of FIRST appearance "
    "via min-bucket — one vocab-sized aggregate, no rescans), then "
    "the Heaps β as the log-log regression slope computed from "
    "bucket-ordered left-to-right folds so both engines sum the same "
    "10 doubles in the same order. Sub-linear β (≈0.4–0.6 for natural "
    "text) is the corpus-health / dedup-sanity signal; a β near 1 "
    "flags synthetic or ID-riddled text. Facts shuffle once "
    "(token-keyed); everything after is buckets-sized.",
    ("text-quality", "corpus", "documents"),
)
def vocab_growth_heaps_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("token"),
    )
    bounds = tok.agg(
        F.min("doc_id").alias("lo"), (F.max("doc_id") + 1).alias("hi")
    )
    bucketed = tok.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.lit(_HEAPS_BUCKETS) * (F.col("doc_id") - F.col("lo")))
                / (F.col("hi") - F.col("lo"))
            ),
            F.lit(_HEAPS_BUCKETS - 1).cast("long"),
        )
        .cast("int")
        .alias("bucket"),
        "token",
    )
    per_bucket = bucketed.groupBy("bucket").agg(F.count("*").alias("n_tok"))
    first_seen = bucketed.groupBy("token").agg(F.min("bucket").alias("bucket"))
    new_vocab = first_seen.groupBy("bucket").agg(F.count("*").alias("n_new"))
    w = Window.orderBy("bucket")
    cum = (
        per_bucket.join(new_vocab, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tok").over(w).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    pts = cum.select(
        "bucket",
        "cum_tokens",
        "cum_vocab",
        F.log2(F.col("cum_tokens").cast("double")).alias("x"),
        F.log2(F.col("cum_vocab").cast("double")).alias("y"),
    )

    def _fold(expr_col):
        return F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("bucket"), expr_col.alias("v")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        )

    folds = pts.agg(
        F.count("*").alias("k"),
        _fold(F.col("x")).alias("sx"),
        _fold(F.col("y")).alias("sy"),
        _fold(F.col("x") * F.col("x")).alias("sxx"),
        _fold(F.col("x") * F.col("y")).alias("sxy"),
    )
    beta = (F.col("sxy") - F.col("sx") * (F.col("sy") / F.col("k"))) / (
        F.col("sxx") - F.col("sx") * (F.col("sx") / F.col("k"))
    )
    return pts.crossJoin(F.broadcast(folds)).select(
        "bucket",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
        _r6(F.col("x")).alias("log2_tokens"),
        _r6(F.col("y")).alias("log2_vocab"),
        _r6(beta).alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence per source (bounded symmetric drift)
# ---------------------------------------------------------------------------

@_register(
    "js_divergence_source_unigrams",
    """
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    sc AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    cc AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY 1),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS big_n FROM cc),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM sc GROUP BY 1),
    grid AS (
      SELECT n.source, c2.token, c2.ct, n.n_src, coalesce(s.c, 0) AS c
      FROM ns n CROSS JOIN cc c2
      LEFT JOIN sc s ON s.source = n.source AND s.token = c2.token
    ),
    terms AS (
      SELECT source, token, c, n_src,
             0.5 * (CASE WHEN c > 0 THEN
                      (c / CAST(n_src AS DOUBLE))
                      * log2((c / CAST(n_src AS DOUBLE))
                             / (0.5 * (c / CAST(n_src AS DOUBLE))
                                + 0.5 * (ct / CAST(t.big_n AS DOUBLE))))
                    ELSE 0.0 END)
             + 0.5 * ((ct / CAST(t.big_n AS DOUBLE))
                      * log2((ct / CAST(t.big_n AS DOUBLE))
                             / (0.5 * (c / CAST(n_src AS DOUBLE))
                                + 0.5 * (ct / CAST(t.big_n AS DOUBLE)))))
               AS term
      FROM grid CROSS JOIN tot t
    )
    SELECT source,
           CAST(max(n_src) AS BIGINT) AS n_tokens,
           CAST(count(*) AS INTEGER) AS vocab_size,
           floor(list_reduce(list_prepend(0.0, list(term ORDER BY token)),
                             (a, x) -> a + x) * 1000000 + 0.5) / 1000000.0
             AS js_bits
    FROM terms GROUP BY source
    """,
    "Jensen–Shannon divergence (bits) between each source's unigram "
    "distribution and the pooled corpus — the BOUNDED (≤1 bit) "
    "symmetric companion to `kl_divergence_source_unigrams`, defined "
    "even where a source misses corpus tokens: the grid is "
    "sources × corpus-vocabulary (both KB-sized after one token "
    "shuffle), each cell contributes ½p·log₂(p/m) + ½q·log₂(q/m) "
    "with m the even mixture, and per-source terms fold in token "
    "order so both engines sum identical doubles identically.",
    ("text-quality", "drift", "documents"),
)
def js_divergence_source_unigrams(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("token"),
    )
    sc = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    cc = sc.groupBy("token").agg(F.sum("c").alias("ct"))
    tot = cc.agg(F.sum("ct").alias("big_n"))
    ns = sc.groupBy("source").agg(F.sum("c").alias("n_src"))
    grid = (
        ns.crossJoin(F.broadcast(cc))
        .join(sc, ["source", "token"], "left")
        .select(
            "source",
            "token",
            "ct",
            "n_src",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    p = F.col("c") / F.col("n_src").cast("double")
    q = F.col("ct") / F.col("big_n").cast("double")
    m = F.lit(0.5) * p + F.lit(0.5) * q
    term = F.lit(0.5) * (
        F.when(F.col("c") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
    ) + F.lit(0.5) * (q * F.log2(q / m))
    terms = grid.crossJoin(F.broadcast(tot)).withColumn("term", term)
    return (
        terms.groupBy("source")
        .agg(
            F.max("n_src").alias("n_tokens"),
            F.count("*").cast("int").alias("vocab_size"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("token"), F.col("term").alias("v"))
                    )
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ).alias("js"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "vocab_size",
            _r6(F.col("js")).alias("js_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus source-balance entropy (evenness index)
# ---------------------------------------------------------------------------

@_register(
    "source_balance_entropy",
    """
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k
          FROM c),
    terms AS (
      SELECT source,
             -(n / CAST(t.nt AS DOUBLE)) * log2(n / CAST(t.nt AS DOUBLE))
               AS term
      FROM c CROSS JOIN t
    )
    SELECT t.k AS n_sources, t.nt AS n_docs,
           floor(h * 1000000 + 0.5) / 1000000.0 AS entropy_bits,
           floor(h / log2(CAST(t.k AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
             AS evenness
    FROM (SELECT list_reduce(list_prepend(0.0, list(term ORDER BY source)),
                             (a, x) -> a + x) AS h
          FROM terms) CROSS JOIN t
    """,
    "Corpus source-balance index: Shannon entropy of the document-"
    "count distribution over sources plus Pielou evenness "
    "(H / log₂ k, 1.0 = perfectly balanced) — the one-number answer "
    "to 'is this corpus dominated by a few domains?' that the "
    "per-source drift divergences don't summarize. Source-ordered "
    "fold keeps the float sum identical cross-engine; one tiny "
    "aggregate over the sources-sized count table.",
    ("text-quality", "corpus", "documents"),
)
def source_balance_entropy(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("nt"), F.count("*").alias("k"))
    p = F.col("n") / F.col("nt").cast("double")
    terms = c.crossJoin(F.broadcast(t)).withColumn(
        "term", -(p) * F.log2(p)
    )
    folded = terms.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("source"), F.col("term").alias("v")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("h")
    )
    return folded.crossJoin(F.broadcast(t)).select(
        F.col("k").cast("long").alias("n_sources"),
        F.col("nt").cast("long").alias("n_docs"),
        _r6(F.col("h")).alias("entropy_bits"),
        _r6(F.col("h") / F.log2(F.col("k").cast("double"))).alias("evenness"),
    )


# ---------------------------------------------------------------------------
# SPRT early-exit sequential language filter over document characters
# ---------------------------------------------------------------------------

# Public English letter frequencies (percent); renormalized over a-z.
_EN_FREQ = {
    "a": 8.17, "b": 1.49, "c": 2.78, "d": 4.25, "e": 12.70, "f": 2.23,
    "g": 2.02, "h": 6.09, "i": 6.97, "j": 0.15, "k": 0.77, "l": 4.03,
    "m": 2.41, "n": 6.75, "o": 7.51, "p": 1.93, "q": 0.10, "r": 5.99,
    "s": 6.33, "t": 9.06, "u": 2.76, "v": 0.98, "w": 2.36, "x": 0.15,
    "y": 1.97, "z": 0.07,
}
_EN_TOT = sum(_EN_FREQ.values())
# per-letter LLR increment: ln(p_en(c) / (1/26))
_SPRT_INC = {
    c: math.log(v / _EN_TOT * 26.0) for c, v in sorted(_EN_FREQ.items())
}
_SPRT_ALPHA = 0.01
_SPRT_UPPER = math.log((1.0 - _SPRT_ALPHA) / _SPRT_ALPHA)
_SPRT_LOWER = -_SPRT_UPPER
_SPRT_CAP = 400

_SPRT_CASE_SQL = "CASE c " + " ".join(
    f"WHEN '{c}' THEN {v!r}::DOUBLE" for c, v in sorted(_SPRT_INC.items())
) + " ELSE 0.0 END"

_SPRT_LLRP = "(acc[1] + x[1])"
_SPRT_DEC = (
    f"CASE WHEN {_SPRT_LLRP} >= {_SPRT_UPPER!r} THEN 1.0::DOUBLE "
    f"WHEN {_SPRT_LLRP} <= {_SPRT_LOWER!r} THEN -1.0::DOUBLE "
    f"ELSE 0.0::DOUBLE END"
)


@_register(
    "sprt_langid_early_exit",
    f"""
    WITH chars AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z]', '', 'g') AS s
      FROM documents
    ),
    incs AS (
      SELECT doc_id,
             list_transform(
               list_transform(generate_series(1, least(length(s),
                                                       {_SPRT_CAP})),
                              i -> substr(s, CAST(i AS INTEGER), 1)),
               c -> [{_SPRT_CASE_SQL}, 0.0::DOUBLE, 0.0::DOUBLE]) AS xs
      FROM chars WHERE length(s) >= 1
    ),
    folded AS (
      -- the early-exit freeze is a SCALAR CASE per state component:
      -- a list-valued CASE branch (CASE ... THEN acc ELSE [..] END)
      -- returns wrong lanes under DuckDB's vectorized list_reduce on
      -- multi-row inputs (correct on a 1-row slice — verified), so
      -- never branch on the whole accumulator
      SELECT doc_id, len(xs) AS n_scanned,
             list_reduce(
               list_prepend([0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE], xs),
               (acc, x) -> [
                 CASE WHEN acc[2] <> 0.0 THEN acc[1] ELSE {_SPRT_LLRP} END,
                 CASE WHEN acc[2] <> 0.0 THEN acc[2] ELSE {_SPRT_DEC} END,
                 CASE WHEN acc[2] <> 0.0 THEN acc[3]
                      ELSE acc[3] + 1.0::DOUBLE END
               ]) AS st
      FROM incs
    )
    SELECT doc_id, CAST(n_scanned AS BIGINT) AS n_scanned,
           CASE WHEN st[2] = 1.0 THEN 'en'
                WHEN st[2] = -1.0 THEN 'other'
                ELSE 'undecided' END AS decision,
           CAST(st[3] AS BIGINT) AS steps_used,
           floor(st[1] * 1000000 + 0.5) / 1000000.0 AS llr
    FROM folded
    """,
    "Wald SPRT early-exit language filter — the sequential-analysis "
    "answer to 'how few characters must we READ to route each "
    "document': per character a log-likelihood-ratio increment "
    "ln(p_english(c)*26) (public letter-frequency table embedded as "
    "full-precision literals into BOTH engines), folded in document "
    "order with alpha=beta=0.01 Wald boundaries and a hard freeze "
    "after the first crossing, capped at 400 letters. Emits the "
    "decision, the characters actually consumed (the early-exit "
    "economics a 100 TB ingest pipeline banks as skipped decode "
    "work), and the frozen LLR. In-row fold, zero shuffle, scan-"
    "local at any scale; the whole-document companion is "
    "`langid_heuristic`, which always pays the full scan.",
    ("text-quality", "langid", "sequential", "documents"),
)
def sprt_langid_early_exit(spark, sf_dir):
    from ....operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    base = spread_for_compute(
        d.select("doc_id", s.alias("s")).filter(F.length("s") >= 1)
    )

    # O(1) per-char lookup: the filtered string is [a-z] only, so
    # ascii(c)-96 indexes a 26-literal array — the same doubles the
    # oracle's CASE table holds, ~26x cheaper than a comparison chain
    inc_arr = F.array(
        *[F.lit(_SPRT_INC[chr(97 + i)]) for i in range(26)]
    )

    def inc_of(c):
        return F.element_at(inc_arr, F.ascii(c) - 96)

    # split the capped prefix ONCE into a char array: substr(s, i, 1)
    # inside a per-position transform is O(i) per call (UTF8 byte
    # scan), i.e. O(cap²) per document — the quadratic-substr trap the
    # CDC rolling hash hit; element_at over the split array is O(1)
    # (r9: this one fold was a 1.3 s single-task job at sf0.1)
    xs = F.transform(
        F.split(F.substring(F.col("s"), 1, _SPRT_CAP), ""),
        lambda c: inc_of(c),
    )
    folded = base.select(
        "doc_id", F.size(xs).alias("n_scanned"), xs.alias("xs")
    )
    init = F.struct(
        F.lit(0.0).alias("llr"), F.lit(0.0).alias("dec"), F.lit(0.0).alias("k")
    )
    up, lo = F.lit(_SPRT_UPPER), F.lit(_SPRT_LOWER)

    def step(acc, x):
        llrp = acc["llr"] + x
        dec = (
            F.when(llrp >= up, F.lit(1.0))
            .when(llrp <= lo, F.lit(-1.0))
            .otherwise(F.lit(0.0))
        )
        nxt = F.struct(
            llrp.alias("llr"), dec.alias("dec"), (acc["k"] + 1.0).alias("k")
        )
        return F.when(acc["dec"] != 0.0, acc).otherwise(nxt)

    st = F.aggregate(F.col("xs"), init, step)
    return folded.select(
        "doc_id",
        F.col("n_scanned").cast("long").alias("n_scanned"),
        F.when(st["dec"] == 1.0, F.lit("en"))
        .when(st["dec"] == -1.0, F.lit("other"))
        .otherwise(F.lit("undecided"))
        .alias("decision"),
        st["k"].cast("long").alias("steps_used"),
        _r6(st["llr"]).alias("llr"),
    )


# ---------------------------------------------------------------------------
# Lexical richness profile per document source
# ---------------------------------------------------------------------------

@_register(
    "lexical_richness_by_source",
    """
    WITH toks AS (
      SELECT source, tok FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x <> '')) AS tok
        FROM documents
      )
    ),
    counts AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(sum(c * (c - 1)) AS BIGINT) AS pairs2
      FROM counts GROUP BY 1
    )
    SELECT source, n_tokens, n_types, hapax,
           floor(n_types / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS ttr,
           floor(hapax / CAST(n_types AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS hapax_rate,
           floor(pairs2 / (CAST(n_tokens AS DOUBLE)
                           * (n_tokens - 1)) * 1000000 + 0.5)
             / 1000000.0 AS simpson_d
    FROM agg
    """,
    "Lexical richness profile per source: type-token ratio, hapax-"
    "legomena rate (the share of vocabulary seen exactly once — "
    "the sensitive indicator of templated vs organic text), and "
    "Simpson's D repeat-probability (sum c(c-1) / n(n-1), the "
    "unbiased collision estimate) — all exact integer counts with "
    "one pinned division each. The per-source companion to the "
    "corpus-level `vocab_growth_heaps_documents` / "
    "`zipf_slope_vocab` laws: a source whose TTR and hapax rate "
    "collapse is machine-generated or boilerplate-heavy, exactly "
    "what a 100 TB ingest wants flagged per-source before "
    "training. One token shuffle, one source-grid aggregate.",
    ("text-quality", "vocabulary", "documents"),
)
def lexical_richness_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    agg = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("pairs2"),
    )
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return agg.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("hapax").cast("long").alias("hapax"),
        r6(F.col("n_types") / F.col("n_tokens").cast("double")).alias("ttr"),
        r6(F.col("hapax") / F.col("n_types").cast("double")).alias(
            "hapax_rate"
        ),
        r6(
            F.col("pairs2")
            / (
                F.col("n_tokens").cast("double")
                * (F.col("n_tokens") - 1)
            )
        ).alias("simpson_d"),
    )


@_register(
    "compression_ratio_floor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS bounds_met,
           TRUE AS deterministic,
           TRUE AS mean_ceiling_met
    FROM documents
    WHERE text IS NOT NULL AND strlen(text) >= 50
    """,
    "Companion gate for the rows-only compression_ratio_documents "
    "(DEFLATE is not SQL-expressible): over every document of >= 50 "
    "chars, the zlib ratio must (a) sit in (0, 1.2] with "
    "ratio == compressed_bytes/n_chars to 1e-6 (the operator rounds "
    "to 6 dp) — a broken pass emits zeros, inflated sizes, or "
    "mismatched columns; (b) be "
    "IDENTICAL when the corpus is re-hashed under a different "
    "repartition (scan-local purity, the phash-gate discipline); and "
    "(c) average at most 0.9 — natural-language text compresses far "
    "below that, so a no-op 'compressor' fails the ceiling. Oracle "
    "pins the eligible-doc count + the three booleans",
    ("text", "quality", "compression", "evaluation", "documents"),
)
def compression_ratio_floor(spark, sf_dir):
    from ....functions.text import compression_ratio

    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= 50)
    )
    r1 = compression_ratio(d, "text", "doc_id")
    r2 = (
        compression_ratio(d.repartition(7), "text", "doc_id")
        .withColumnRenamed("compression_ratio", "ratio2")
        .select("doc_id", "ratio2")
    )
    joined = r1.join(r2, "doc_id")
    return joined.agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.sum(
                (
                    (F.col("compression_ratio") <= 0.0)
                    | (F.col("compression_ratio") > 1.2)
                    | (
                        F.abs(
                            F.col("compression_ratio")
                            - F.col("compressed_bytes")
                            / F.col("n_chars").cast("double")
                        )
                        > 1e-6
                    )
                ).cast("long")
            )
            == 0
        ).alias("bounds_met"),
        (
            F.sum(
                (
                    F.col("compression_ratio") != F.col("ratio2")
                ).cast("long")
            )
            == 0
        ).alias("deterministic"),
        (F.avg("compression_ratio") <= 0.9).alias("mean_ceiling_met"),
    )


# Fixed feature width. 512 keeps the two distribution vectors a
# trivially-broadcastable 512-row table at ANY corpus size — the
# whole point of hashing the n-gram space.
_DSIR_BUCKETS = 512


def _bucket_spark(col):
    """md5-top-32-bit hash of a bigram string -> bucket id, exactly
    reproducible in DuckDB as CAST('0x'||substr(md5(x),1,8) AS
    UBIGINT) % B (the catalog's established cross-engine hash)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )


@_register(
    "dsir_importance_selection",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 8)
                       AS UBIGINT) % {_DSIR_BUCKETS} AS BIGINT) AS b
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM toks WHERE len(w) >= 2)
    ),
    is_target AS (
      SELECT doc_id FROM documents WHERE lang = 'en'
    ),
    raw_counts AS (
      SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY 1
    ),
    tgt_counts AS (
      SELECT b, CAST(count(*) AS BIGINT) AS ct
      FROM bg JOIN is_target USING (doc_id) GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT sum(cr) FROM raw_counts) AS nr,
             (SELECT coalesce(sum(ct), 0) FROM tgt_counts) AS nt
    ),
    bucket_scores AS (
      -- per-bucket log-ratio quantized to integer MICRO-units in the
      -- 512-row table (ADVICE r6): the per-doc aggregate below then
      -- sums BIGINTs, which is accumulation-order-free — a float sum
      -- would let Spark's partial-agg order vs DuckDB's flip the
      -- rounded selection/sort key on boundary-straddling docs
      SELECT r.b,
             CAST(round((log2(coalesce(t.ct, 0) + 1.0) - log2(r.cr + 1.0)
                   + log2(tot.nr + {_DSIR_BUCKETS})
                   - log2(tot.nt + {_DSIR_BUCKETS})) * 1000000.0)
                  AS BIGINT) AS s_u
      FROM raw_counts r
      LEFT JOIN tgt_counts t USING (b)
      CROSS JOIN tot
    ),
    per_doc AS (
      -- micro-units -> 4-decimal weight in INTEGER space
      -- (floor((x+50)/100) = half-up to 0.0001 units), then one exact
      -- integer/double division — no double round() anywhere, so both
      -- engines emit the bit-identical weight
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(floor((sum(s.s_u) + 50) / 100.0) AS BIGINT)
               / 10000.0 AS dsir_log2_weight
      FROM (SELECT bg.doc_id, bs.s_u
            FROM bg JOIN bucket_scores bs USING (b)) s
      GROUP BY 1
    )
    SELECT p.doc_id, d.lang, d.source, p.n_bigrams, p.dsir_log2_weight
    FROM per_doc p JOIN documents d USING (doc_id)
    ORDER BY p.dsir_log2_weight DESC, p.doc_id
    LIMIT 100
    """,
    "DSIR importance resampling (hashed-bigram variant of Xie et al. "
    "2023): every document becomes a bag of md5-hashed bigrams in a "
    "FIXED 512-bucket feature space; add-one-smoothed bucket "
    "distributions are fit on the trusted target stratum (lang='en') "
    "and on the raw pool; each document's importance weight is its "
    "bigram-likelihood ratio log2[p_target/p_raw], and the top-100 "
    "weights are the keep-set. Scale shape: two linear scans of the "
    "token stream, the two distributions are 512-row broadcasts "
    "joined back bucket-wise, and selection is a TakeOrdered top-k — "
    "no self-join anywhere, which is exactly why DSIR is the "
    "data-selection method that survives 100 TB",
    ("ml-prep", "sampling", "training-data", "quality", "documents"),
)
def dsir_importance_selection(spark, sf_dir):
    # Left alone after an r9 A/B: spreading (and/or checkpointing) the
    # bigram leg re-timed SLOWER solo (1.93-2.15 s corrected vs the
    # 1.35 s floor) — the three narrow single-task consumers evaluate
    # concurrently as independent stages, so the round-robin exchange
    # only added shuffle + scheduling.
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).filter(F.size("w") >= 2)
    # Bigrams are built IN-ROW (transform over the token array — no
    # shuffle), then hashed straight to their bucket id; the original
    # strings never leave the row.
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(w[i-1], ' ', w[i]))"
            )
        ).alias("bgram"),
    ).select("doc_id", _bucket_spark(F.col("bgram")).alias("b"))
    is_target = d.filter(F.col("lang") == "en").select("doc_id")
    raw_counts = bg.groupBy("b").agg(F.count("*").alias("cr"))
    tgt_counts = (
        bg.join(is_target, "doc_id").groupBy("b").agg(
            F.count("*").alias("ct")
        )
    )
    tot = raw_counts.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt_counts.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    )
    # Per-bucket log-ratio quantized to integer MICRO-units inside the
    # 512-row broadcast (ADVICE r6): the per-doc sum below aggregates
    # BIGINTs, which is accumulation-order-free — Spark partial-agg
    # order can never flip the selection/sort key vs the oracle.
    bucket_scores = (
        raw_counts.join(tgt_counts, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                (
                    F.log2(F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                    - F.log2(F.col("cr") + 1.0)
                    + F.log2(F.col("nr") + F.lit(_DSIR_BUCKETS))
                    - F.log2(F.col("nt") + F.lit(_DSIR_BUCKETS))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("s_u"),
        )
    )
    scored = bg.join(F.broadcast(bucket_scores), "b").select("doc_id", "s_u")
    # micro-units -> 4-decimal weight in INTEGER space (floor((x+50)/
    # 100) = half-up to 0.0001 units), then one exact integer/double
    # division — no double round() anywhere, bit-identical cross-engine
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.floor((F.sum("s_u") + F.lit(50)) / F.lit(100.0)).cast("long")
            / F.lit(10000.0)
        ).alias("dsir_log2_weight"),
    )
    return (
        per_doc.join(d.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id", "lang", "source", "n_bigrams", "dsir_log2_weight"
        )
        .orderBy(F.desc("dsir_log2_weight"), F.asc("doc_id"))
        .limit(100)
    )
