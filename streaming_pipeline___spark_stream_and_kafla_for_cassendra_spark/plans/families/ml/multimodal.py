"""Multimodal feature extraction: image, audio and video features
through pandas UDFs, perceptual hashes and their determinism gates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ....functions.text import token_count
from ....operators.multimodal import (
    extract_image_features,
    synthetic_media_from_documents,
)
from ...core import _register, _t


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
    from ....operators.multimodal import (
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
    from ....operators.multimodal import (
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


def _phash_oracle() -> str:
    """Bit-exact DuckDB twin of the integer pHash: the frozen 8×32
    DCT basis (operators/multimodal.py::PHASH_DCT_W8) is injected as
    literals, pixels are the tiled ASCII bytes of the text payload
    (the stub decoder's contract), and every step — two integer
    matmuls, the 2·c > s₃₂+s₃₃ median threshold, the 2^k bit pack
    with signed-64 wraparound — is exact integer arithmetic, so the
    hashes value-hash-match without tolerance (r6: rows-only → full
    oracle row, the BPE generated-CTE precedent)."""
    from ....operators.multimodal import PHASH_DCT_W8

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
    from ....operators.multimodal import (
        phash_images,
        synthetic_media_from_documents,
    )

    d = _t(spark, sf_dir, "documents")
    media = synthetic_media_from_documents(d)
    return phash_images(media)


@_register(
    "phash_determinism_gate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS n_mismatches,
           TRUE AS deterministic
    FROM documents WHERE text IS NOT NULL
    """,
    "Companion gate for the rows-only multimodal_phash_images (float "
    "DCT thresholds are not SQL-expressible): pHash must be a pure "
    "function of the payload bytes, independent of partitioning and "
    "Arrow batch boundaries — the corpus is hashed TWICE, the second "
    "pass under shifted ids and a different repartition (different "
    "batch shapes through mapInPandas), and every pair of hashes for "
    "the same payload must agree. Catches carry-state bugs, batch-"
    "boundary effects, and nondeterministic numpy paths; the DCT "
    "algebra itself is property-tested in tests/test_multimodal.py",
    ("multimodal", "phash", "evaluation", "documents"),
)
def phash_determinism_gate(spark, sf_dir):
    from ....operators.multimodal import (
        phash_images,
        synthetic_media_from_documents,
    )

    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    offset = 10_000_000
    ph1 = phash_images(synthetic_media_from_documents(d))
    ph2 = (
        phash_images(
            synthetic_media_from_documents(
                d.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(offset)
                ).repartition(7)
            )
        )
        .withColumn("media_id", F.col("media_id") - F.lit(offset))
        .withColumnRenamed("phash", "phash2")
    )
    cmp = ph1.join(ph2, "media_id")
    return cmp.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            (F.col("phash") != F.col("phash2")).cast("long")
        ).cast("long").alias("n_mismatches"),
        (
            F.sum((F.col("phash") != F.col("phash2")).cast("long")) == 0
        ).alias("deterministic"),
    )


def _media(spark, sf_dir):
    from ....operators.multimodal import synthetic_media_from_documents

    return synthetic_media_from_documents(_t(spark, sf_dir, "documents"))


@_register(
    "multimodal_audio_accounting",
    """
    SELECT doc_id AS media_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
           CAST((octet_length(encode(text)) * 1000) // 16000 AS BIGINT)
             AS duration_ms
    FROM documents
    """,
    "Audio feature-extraction accounting (extract_audio_features, "
    "multimodal.py:140): every payload's (sample_rate, n_samples, "
    "duration_ms) from the Arrow-batched mapInPandas pass must match "
    "the oracle's byte-level derivation — the stub PCM decode treats "
    "payload bytes as 8-bit samples @ 16 kHz, so n_samples is the "
    "UTF-8 byte length and duration is integer-division math the "
    "oracle restates. Narrow and shuffle-free (features leave the "
    "executor, payloads never do); a batching/truncation/null-"
    "handling regression in the binary plumbing breaks the per-row "
    "match. rms_energy stays pytest-graded (byte-wise RMS is not "
    "relationally expressible)",
    ("multimodal", "audio", "pandas_udf", "documents"),
)
def multimodal_audio_accounting(spark, sf_dir):
    from ....operators.multimodal import extract_audio_features

    feats = extract_audio_features(_media(spark, sf_dir))
    return feats.select(
        "media_id", "sample_rate", "n_samples", "duration_ms"
    )


@_register(
    "multimodal_video_frame_accounting",
    """
    WITH m AS (
      SELECT doc_id AS media_id, octet_length(encode(text)) AS b
      FROM documents
    ),
    fr AS (
      SELECT media_id, b,
             unnest(generate_series(
               0, CAST(ceil(b / 256.0) AS BIGINT) - 1)) AS fno
      FROM m WHERE b > 0
    )
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_frames_kept,
           CAST(max(fno) AS INTEGER) AS max_frame_no,
           CAST(sum(least(256, b - fno * 256)) AS BIGINT)
             AS kept_frame_bytes
    FROM fr WHERE fno % 10 = 0
    GROUP BY 1
    """,
    "Video frame-sampling accounting (sample_video_frames, "
    "multimodal.py:199, every_nth=10, frame_bytes=256): the stub "
    "sampler splits each payload into fixed-256-byte frames and "
    "keeps every 10th — so per media the kept-frame COUNT, the last "
    "kept frame NUMBER, and the total kept BYTES (last frame "
    "partial) are pure integer arithmetic on the payload byte "
    "length, which the oracle restates with generate_series. Grades "
    "the executor-local explode shape (one row per kept frame, "
    "fan-out inside mapInPandas — the source payload is never "
    "shuffled) plus boundary handling: an off-by-one in frame "
    "slicing, a dropped partial tail frame, or a modulo bug in the "
    "keep-filter each shift a column. Frame checksums stay pytest-"
    "graded (md5-of-slice is not byte-exact relationally across "
    "engines)",
    ("multimodal", "video", "pandas_udf", "documents"),
)
def multimodal_video_frame_accounting(spark, sf_dir):
    from ....operators.multimodal import sample_video_frames

    frames = sample_video_frames(
        _media(spark, sf_dir), every_nth=10, frame_bytes=256
    )
    return frames.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames_kept"),
        F.max("frame_no").cast("int").alias("max_frame_no"),
        F.sum(F.length("frame_payload"))
        .cast("long")
        .alias("kept_frame_bytes"),
    )


@_register(
    "multimodal_resize_roundtrip",
    """
    SELECT doc_id AS media_id,
           CAST(64 AS INTEGER) AS width,
           CAST(64 AS INTEGER) AS height,
           CAST(4096 AS BIGINT) AS out_bytes,
           CAST(octet_length(encode(text)) AS BIGINT) AS in_bytes,
           TRUE AS prefix_roundtrip_ok
    FROM documents
    """,
    "Image resize-pass accounting (resize_images, multimodal.py:256, "
    "64×64 target): payload-in/payload-out transform — every output "
    "payload must be exactly width×height = 4096 bytes (out_bytes is "
    "measured with length() on the produced binary, not assumed), "
    "and because the stub resampler tiles the source bytes, the "
    "first min(in_bytes, 4096) output bytes must equal the source "
    "payload prefix — a JVM-side binary substring comparison the "
    "oracle pins TRUE per row. Grades the binary-column round trip "
    "through Arrow (encode → pandas bytes → Arrow binary → Spark "
    "BinaryType) and the in/out size contract a real Pillow-backed "
    "deployment keeps; in_bytes cross-checks the source byte length "
    "relationally",
    ("multimodal", "image", "pandas_udf", "documents"),
)
def multimodal_resize_roundtrip(spark, sf_dir):
    from ....operators.multimodal import resize_images

    media = _media(spark, sf_dir)
    resized = resize_images(media, target_w=64, target_h=64)
    orig = media.select(
        "media_id", F.col("payload").alias("orig_payload")
    )
    j = resized.join(orig, "media_id")
    in_bytes = F.length("orig_payload").cast("long")
    return j.select(
        "media_id",
        "width",
        "height",
        F.length("payload").cast("long").alias("out_bytes"),
        in_bytes.alias("in_bytes"),
        (
            F.expr("substring(payload, 1, least(length(orig_payload), 4096))")
            == F.expr(
                "substring(orig_payload, 1, least(length(orig_payload), 4096))"
            )
        ).alias("prefix_roundtrip_ok"),
    )
