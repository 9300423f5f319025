"""Broker-free end-to-end run of the reference pipeline shape.

The reference needs Postgres + Debezium + Kafka + Cassandra containers
to demonstrate its multi-source fan-out
(``multi_source_streaming_processor.py:307-381``). This demo runs the
SAME shape — two CDC streams → decode → enrich → 4 concurrent
streaming queries (2 enriched streams, hourly + daily aggregations) —
entirely in-process: the ``cdc_envelope`` custom Python DataSource
serves both topics' record contracts, and the engine's CdcPipeline
does the rest. Prints one JSON line of per-sink row counts and batch
metrics.

Usage: python tools/run_pipeline_demo.py [rows_per_topic]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import get_session
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.cdc_source import (
    CdcEnvelopeDataSource,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.orchestrator import (
    MetricsListener,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.pipeline import (
    CdcPipeline,
)


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    spark = get_session("pipeline-demo")
    spark.dataSource.register(CdcEnvelopeDataSource)
    metrics = MetricsListener().attach(spark)

    def topic_stream(table: str):
        return (
            spark.readStream.format("cdc_envelope")
            .option("table", table)
            .option("rowsPerBatch", max(rows // 4, 1))
            .option("maxRows", rows)
            .load()
        )

    pipeline = CdcPipeline(
        spark=spark, checkpoint_root=tempfile.mkdtemp(prefix="demo_ck_")
    )
    orch = pipeline.start_memory_fanout(
        topic_stream("employees"),
        topic_stream("activities"),
        available_now=False,  # continuous micro-batches, like the reference
    )

    # employees keep ops c,u (3 of every 4 records decode through)
    expect_emp = rows * 3 // 4
    deadline = time.time() + 120
    while time.time() < deadline:
        done = (
            spark.table("employees_enriched").count() >= expect_emp
            and spark.table("activities_enriched").count() >= expect_emp
        )
        if done:
            break
        time.sleep(2)
    orch.stop_all()

    counts = {
        name: spark.table(name).count()
        for name in (
            "employees_enriched",
            "activities_enriched",
            "hourly_agg",
            "daily_agg",
        )
    }
    batches = {
        q: len(metrics.progress(q))
        for q in ("employees_enriched", "activities_enriched")
    }
    print(
        json.dumps(
            {
                "metric": "pipeline_demo",
                "rows_per_topic": rows,
                "sink_rows": counts,
                "micro_batches": batches,
                "queries": 4,
            }
        )
    )
    metrics.detach(spark)
    spark.stop()


if __name__ == "__main__":
    main()
