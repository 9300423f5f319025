"""dedup_threshold_sensitivity when no pair clears the lowest cutoff:
the miner's floor leaves no scored pairs, and every count must still
be 0, as in the DuckDB oracle (which scores the unfloored pair list)."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
    REGISTRY,
    resolve_oracle,
)


def test_threshold_sweep_counts_zero_below_floor(spark, tmp_path):
    # two documents sharing four 3-grams out of sixteen: Jaccard 0.25
    shared = "alpha beta gamma delta epsilon zeta"
    texts = [
        f"{shared} one two three four five six",
        f"{shared} seven eight nine ten eleven twelve",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": texts,
                "lang": ["en", "en"],
                "source": ["web", "web"],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    qd = next(q for q in REGISTRY if q.name == "dedup_threshold_sensitivity")
    got = sorted(tuple(r) for r in qd.builder(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path / 'documents.parquet'}')"
    )
    want = sorted(con.execute(resolve_oracle(qd)).fetchall())
    assert want[0] == (500000, 0, 0, 0)
    assert got == want
