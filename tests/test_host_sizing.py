"""Host-derived session sizing: the core probe, the partition count
derived from it on local masters only, the spread goal, and the
checkpoint semantics that keep a running deployment's state
partitioning when the default changes."""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import session
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.aggregates import (
    hourly_activity_aggregation,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.scale import (
    spread_for_compute,
)

SHUFFLE = "spark.sql.shuffle.partitions"


def test_host_cores_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.host_cores() == 6


def test_host_cores_uses_affinity_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.host_cores() == len(os.sched_getaffinity(0))


def test_local_master_derives_partitions_from_cores(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    prev = spark.conf.get(SHUFFLE)
    try:
        session.get_session("sizing-local", master="local[4]")
        assert spark.conf.get(SHUFFLE) == "7"
        # an explicit count wins over the derived one
        session.get_session("sizing-local", master="local[4]", shuffle_partitions=5)
        assert spark.conf.get(SHUFFLE) == "5"
    finally:
        spark.conf.set(SHUFFLE, prev)


def test_cluster_master_leaves_partitions_alone(spark, monkeypatch):
    """On a non-local master the driver's core count says nothing about
    the executors: get_session must not write it into the session.
    (The session already exists, so the master URL is not dialled.)"""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "300")
    try:
        session.get_session("sizing-cluster", master="spark://cluster:7077")
        assert spark.conf.get(SHUFFLE) == "300"
        session.get_session("sizing-cluster", master="yarn", shuffle_partitions=5)
        assert spark.conf.get(SHUFFLE) == "5"
    finally:
        spark.conf.set(SHUFFLE, prev)


def test_session_has_no_hard_coded_parallelism():
    src = Path(session.__file__).read_text()
    assert not re.search(r"\b32\b", src)
    assert not re.search(r"local\[\d+\]", src)
    assert "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in src


def test_spread_goal_ignores_large_shuffle_conf(spark):
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "1000")
    try:
        narrow = spark.range(0, 100).coalesce(1)
        spread = spread_for_compute(narrow)
        assert (
            spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
    finally:
        spark.conf.set(SHUFFLE, prev)


_ACT_SCHEMA = (
    "employee_id long, activity_type string, page_url string, "
    "duration_seconds long, device_category string, "
    "activity_timestamp string"
)


def _write_activities(path: Path, rows: list[tuple]) -> None:
    cols = [c.split()[0] for c in _ACT_SCHEMA.split(", ")]
    path.write_text(
        "\n".join(json.dumps(dict(zip(cols, r))) for r in rows) + "\n"
    )


def _canon(rows) -> list[tuple]:
    return sorted(
        tuple(sorted(r.asDict().items())) for r in rows
    )


def test_restart_keeps_checkpointed_state_partitions(spark, tmp_path):
    """A checkpoint started at 8 shuffle partitions restarts at 8 even
    when the session default is now 4: Structured Streaming freezes
    the count into the checkpoint, so existing deployments keep their
    state layout and only new checkpoints pick up the derived default.
    The restarted query's final state equals the batch aggregate."""
    indir = tmp_path / "in"
    indir.mkdir()
    _write_activities(
        indir / "b0.jsonl",
        [
            (1, "login", "/home", 20, "mobile", "2024-01-01 10:05:00"),
            (1, "login", "/docs", 40, "desktop", "2024-01-01 10:25:00"),
            (2, "click", "/home", 400, "tablet", "2024-01-01 11:05:00"),
        ],
    )
    ckpt = str(tmp_path / "ckpt")
    prev = spark.conf.get(SHUFFLE)

    def run():
        stream = spark.readStream.schema(_ACT_SCHEMA).json(str(indir))
        q = (
            hourly_activity_aggregation(stream)
            .writeStream.format("memory")
            .queryName("hourly_ckpt_partitions")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return q

    try:
        spark.conf.set(SHUFFLE, "8")
        run()
        spark.conf.set(SHUFFLE, "4")
        _write_activities(
            indir / "b1.jsonl",
            [
                (1, "login", "/news", 60, "mobile", "2024-01-01 10:45:00"),
                (3, "view", "/home", 5, "mobile", "2024-01-01 12:00:00"),
            ],
        )
        q2 = run()
        data = [
            json.loads(p.json)
            for p in q2.recentProgress
            if p.numInputRows > 0
        ]
        assert len(data) == 1
        assert data[0]["stateOperators"][0]["numShufflePartitions"] == 8
        final = spark.table("hourly_ckpt_partitions").collect()
    finally:
        spark.conf.set(SHUFFLE, prev)
    batch = hourly_activity_aggregation(
        spark.read.schema(_ACT_SCHEMA).json(str(indir))
    ).collect()
    assert len(batch) == 3
    assert _canon(final) == _canon(batch)
