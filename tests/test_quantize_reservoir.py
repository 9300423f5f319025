"""Int8 quantization (error bound + ANN recall) and per-group
reservoir sampling determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.sampling import (
    reservoir_per_group,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.similarity import (
    brute_force_topk,
    quantize_int8,
    quantized_topk,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_quantize_int8_codes_in_range_and_error_bounded(spark):
    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    q = quantize_int8(emb)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    checked = (
        q.withColumn("_nrm", F.greatest(nrm, F.lit(1e-300)))
        .withColumn(
            "err",
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
        .withColumn("code_max", F.array_max(F.transform("qvec", F.abs)))
        .select(
            F.max("err").alias("max_err"),
            F.max("code_max").alias("max_code"),
            F.max("qscale").alias("max_scale"),
        )
        .collect()[0]
    )
    # codes stay in the symmetric int8 range
    assert checked.max_code <= 127
    # reconstruction error of half-up rounding is at most scale/2
    assert checked.max_err <= checked.max_scale / 2 + 1e-12
    # unit vectors in 64-dim: max|x| <= 1, so scale <= 1/127
    assert checked.max_scale <= 1.0 / 127 + 1e-12


def test_quantized_topk_recall_vs_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_topk(emb, queries, k=5)
    approx = quantized_topk(emb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert e, "exact top-k produced no pairs"
    recall = len(e & a) / len(e)
    # int8 error per axis <= 1/254: ranking perturbation is tiny
    assert recall >= 0.9, f"quantized recall {recall:.3f} < 0.9"


def test_reservoir_per_group_k_rows_deterministic(spark):
    s = load_table(spark, SF_DIR, "supplier")
    r1 = reservoir_per_group(s, "s_nationkey", 3, "s_suppkey")
    r2 = reservoir_per_group(s, "s_nationkey", 3, "s_suppkey")
    rows1 = sorted((r.s_nationkey, r.s_suppkey) for r in r1.collect())
    rows2 = sorted((r.s_nationkey, r.s_suppkey) for r in r2.collect())
    assert rows1 == rows2, "reservoir is not rerun-stable"
    sizes = (
        r1.groupBy("s_nationkey").count().select(F.max("count")).collect()[0][0]
    )
    assert sizes <= 3
    # every sampled row really belongs to the source
    src = {(r.s_nationkey, r.s_suppkey) for r in s.collect()}
    assert set(rows1) <= src
    # groups with >= 3 members yield exactly 3
    big = {
        r.s_nationkey
        for r in s.groupBy("s_nationkey").count().filter("count >= 3").collect()
    }
    got = {
        r.s_nationkey: r["count"]
        for r in r1.groupBy("s_nationkey").count().collect()
    }
    for g in big:
        assert got[g] == 3


def test_reservoir_different_salt_different_sample(spark):
    s = spark.range(1000).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("k")
    )
    a = {
        (r.g, r.k)
        for r in reservoir_per_group(s, "g", 2, "k", salt="a").collect()
    }
    b = {
        (r.g, r.k)
        for r in reservoir_per_group(s, "g", 2, "k", salt="b").collect()
    }
    assert a != b, "distinct salts should draw distinct samples"


def test_paragraph_dedup_flags_exact_copy(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p q r s t"),
            (2, "a b c d e f g h i j k l m n o p q r s t"),  # full copy
            (3, "z y x w v u t s r q p o n m l k j i h g"),  # unique
        ],
        "doc_id long, text string",
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        REGISTRY,
    )

    builder = next(
        q for q in REGISTRY if q.name == "dedup_paragraphs_documents"
    ).builder

    import streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.families.mining.dedup as reg

    orig = reg._t
    reg._t = lambda sp, sf, name: docs  # noqa: ARG005
    try:
        out = {r.doc_id: r for r in builder(spark, SF_DIR).collect()}
    finally:
        reg._t = orig
    assert out[1].n_dup_paras == 0 and out[1].dup_frac == 0.0
    assert out[2].n_dup_paras == out[2].n_paras and out[2].dup_frac == 1.0
    assert out[3].n_dup_paras == 0
