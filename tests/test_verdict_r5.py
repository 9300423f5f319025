"""Round-5 verdict items (VERDICT.md r4 "Next round: do this").

1. ``lsh_blocking_quality`` truth mining is stratified: a seeded,
   engine-portable hash picks a bounded-size stratum, so the gate's
   own cost stays O(stratum²) while the graded blocker stays
   full-corpus.
6. Rows-only conversions: ``sliding_distinct_users_7d_hll`` grades
   every per-day HLL estimate against the exact rewrite in its own
   driver-visible row; ``compression_ratio_documents`` pins known-
   text DEFLATE byte counts through the production pass.
8. Multimodal accounting rows put resize/video/audio under the
   oracle gate.
"""

from __future__ import annotations

import zlib

import duckdb
import pytest

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.families.mining import dedup as mining_dedup
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.families.text import quality as text_quality
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"

BY_NAME = {q.name: q for q in REGISTRY}


# ---------------------------------------------------------------------------
# 1. stratified lsh_blocking_quality
# ---------------------------------------------------------------------------


def test_lsh_quality_stratum_is_corpus_at_small_sf(spark):
    row = BY_NAME["lsh_blocking_quality"].builder(spark, SF).collect()[0]
    assert row["n_stratum"] == row["n_docs"]  # stride 1 below the cap
    assert row["pc_floor_met"] and row["rr_floor_met"]


def test_lsh_quality_stratum_activates_and_bounds_truth(spark, monkeypatch):
    # Shrink the cap so the 500-doc fixture exercises the stride>1
    # path the real corpus hits at sf1 (50k docs / 10k cap = stride 5).
    monkeypatch.setattr(mining_dedup, "LSH_QUALITY_STRATUM", 100)
    df = BY_NAME["lsh_blocking_quality"].builder(spark, SF)
    row = df.collect()[0]
    assert row["n_docs"] == 500
    # stride = ceil(500/100) = 5; the multiplicative hash spreads
    # residues near-uniformly, so the stratum lands near 500/5.
    assert 0 < row["n_stratum"] < row["n_docs"]
    assert 50 <= row["n_stratum"] <= 200
    # the stratum is the same deterministic set DuckDB would select
    expected = duckdb.sql(
        f"""
        SELECT count(*) FROM read_parquet('{SF}/documents.parquet')
        WHERE ((doc_id * 2654435761) % 4294967296) % 5 = 0
        """
    ).fetchone()[0]
    assert row["n_stratum"] == expected
    # blocker still clears its floors when graded on the stratum
    assert row["pc_floor_met"] and row["rr_floor_met"]
    # deterministic: same stratum, same truth count on a re-run
    row2 = BY_NAME["lsh_blocking_quality"].builder(spark, SF).collect()[0]
    assert row2["n_true_pairs"] == row["n_true_pairs"]
    assert row2["n_stratum"] == row["n_stratum"]


# ---------------------------------------------------------------------------
# 6a. sliding_distinct_users_7d_hll — per-day oracle row
# ---------------------------------------------------------------------------


def test_sliding_hll_grades_every_day(spark):
    rows = BY_NAME["sliding_distinct_users_7d_hll"].builder(spark, SF).collect()
    assert rows, "no anchor days"
    exact = dict(
        duckdb.sql(
            f"""
            WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                        FROM read_parquet('{SF}/events.parquet')),
            days AS (SELECT DISTINCT day FROM du)
            SELECT d2.day, count(DISTINCT du.user_id)
            FROM du JOIN days d2
              ON d2.day >= du.day AND d2.day <= du.day + INTERVAL 6 DAY
            GROUP BY 1
            """
        ).fetchall()
    )
    assert len(rows) == len(exact)
    for r in rows:
        assert r["users_7d_exact"] == exact[r["day"]]
        assert r["est_within_5pct"], f"HLL >5% off on {r['day']}"


# ---------------------------------------------------------------------------
# 6b. compression_ratio_documents — pinned DEFLATE calibration
# ---------------------------------------------------------------------------


def test_compression_calibration_matches_local_zlib(spark):
    rows = {
        r["doc_id"]: r
        for r in BY_NAME["compression_ratio_documents"].builder(spark, SF).collect()
    }
    assert set(rows) == {-1, -2, -3}
    cals = {-1: text_quality._CAL1, -2: text_quality._CAL2, -3: text_quality._cal3()}
    for did, text in cals.items():
        comp = len(zlib.compress(text.encode("utf-8"), 6))
        r = rows[did]
        assert r["n_chars"] == len(text)
        assert r["compressed_bytes"] == comp
        assert r["compression_ratio"] == pytest.approx(
            round(comp / len(text), 6)
        )
        assert r["corpus_docs"] == 500
        assert r["corpus_mean_ok"]
    # the three calibration points span the compressibility spectrum
    assert (
        rows[-1]["compression_ratio"]
        < rows[-2]["compression_ratio"]
        < rows[-3]["compression_ratio"]
    )


# ---------------------------------------------------------------------------
# 8. multimodal accounting rows
# ---------------------------------------------------------------------------


def test_video_accounting_partial_tail_frame(spark):
    # one payload of 300 bytes → frames (0: 256B, 1: 44B); kept = {0}
    rows = (
        BY_NAME["multimodal_video_frame_accounting"]
        .builder(spark, SF)
        .collect()
    )
    assert rows
    byid = {r["media_id"]: r for r in rows}
    docs = duckdb.sql(
        f"""
        SELECT doc_id, octet_length(encode(text)) AS b
        FROM read_parquet('{SF}/documents.parquet') WHERE b > 0
        """
    ).fetchall()
    assert len(rows) == len(docs)
    for doc_id, b in docs:
        n_frames = -(-b // 256)
        kept = [f for f in range(n_frames) if f % 10 == 0]
        r = byid[doc_id]
        assert r["n_frames_kept"] == len(kept)
        assert r["max_frame_no"] == kept[-1]
        assert r["kept_frame_bytes"] == sum(
            min(256, b - f * 256) for f in kept
        )


def test_resize_roundtrip_all_rows_ok(spark):
    rows = (
        BY_NAME["multimodal_resize_roundtrip"].builder(spark, SF).collect()
    )
    assert len(rows) == 500
    assert all(r["out_bytes"] == 4096 for r in rows)
    assert all(r["prefix_roundtrip_ok"] for r in rows)


def test_audio_accounting_duration_math(spark):
    rows = (
        BY_NAME["multimodal_audio_accounting"].builder(spark, SF).collect()
    )
    assert len(rows) == 500
    for r in rows:
        assert r["sample_rate"] == 16000
        assert r["duration_ms"] == r["n_samples"] * 1000 // 16000
