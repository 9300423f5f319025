"""The CDC fan-out workloads: ``cdc_drain`` (a fixed backlog drained with
``availableNow``) and ``cdc_steady`` (an open-loop generator on the
continuous trigger).

Input is Kafka-contract ``value`` records (one Debezium envelope per
line) in files, read by Spark's file stream source; the program is
driven only through ``CdcPipeline.start_memory_fanout``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import envelopes
import stats
from tracing import now_ms

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.aggregates import (
    hourly_activity_aggregation,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.enrich import (
    enrich_activities,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.schemas import (
    ACTIVITY_SCHEMA,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.cdc import (
    decode_cdc,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.lake import (
    LakeTable,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.pipeline import (
    CdcPipeline,
)

# the drain reads one file per trigger: DRAIN_FILES micro-batches per query
MAX_FILES_PER_TRIGGER = 1
DRAIN_OUT_TIMEOUT_S = 30
# cdc_steady publishes for PRE_ROLL_S before its measured window: the
# first micro-batches of freshly started queries (planning, state-store
# creation, then the catch-up batch) are set-up, not steady state. Their
# files are published and checked but not sampled.
PRE_ROLL_S = 5

ENRICHED = ("employees_enriched", "activities_enriched")
AGGREGATES = ("hourly_agg", "daily_agg")
HOURLY_KEY = ("window_start", "employee_id", "activity_type")
HOURLY_FIELDS = ("activity_count", "total_duration", "avg_duration", "unique_pages", "primary_device")
DAILY_KEY = ("window_start", "activity_type", "device_category")
DAILY_FIELDS = ("activity_count", "unique_employees", "avg_duration")


def topic_dirs(root: str) -> tuple[str, str]:
    emp, act = os.path.join(root, "employees"), os.path.join(root, "activities")
    os.makedirs(emp, exist_ok=True)
    os.makedirs(act, exist_ok=True)
    return emp, act


def run_fanout(spark, emp_dir, act_dir, work_dir, lake: bool, available_now: bool):
    """Start the reference fan-out over the two topic directories. The
    backlog drain reads one file per trigger."""
    pipe = CdcPipeline(spark, checkpoint_root=os.path.join(work_dir, "checkpoints"))
    reader = spark.readStream
    if available_now:
        reader = reader.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
    emp, act = reader.text(emp_dir), reader.text(act_dir)
    return pipe.start_memory_fanout(
        emp,
        act,
        lake_root=os.path.join(work_dir, "lake") if lake else None,
        available_now=available_now,
    )


def sink_latency_rows(spark, sink: str, origin_ms: int | None) -> list[tuple[int, int]]:
    """``(due_ms, batch_ts_ms)`` per sink row. The due time is the
    envelope's ``ts_ms`` (``event_timestamp``), or ``origin_ms`` for a
    backlog whose rows were all due when the drain started."""
    from pyspark.sql import functions as F

    def ms(c):
        return (F.col(c).cast("double") * 1000).cast("long")

    rows = (
        spark.table(sink)
        .groupBy(ms("event_timestamp").alias("due"), ms("processing_timestamp").alias("ts"))
        .count()
        .collect()
    )
    out = []
    for r in rows:
        out.extend([(origin_ms if origin_ms is not None else r.due, r.ts)] * r["count"])
    return out


# -- output checks ----------------------------------------------------------


def _collect_dicts(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def check_outputs(spark, emp_dir: str, act_dir: str, work_dir: str, lake: bool) -> dict[str, list[str]]:
    """Sink contents against answers computed from the same envelopes.
    Returns failure messages per check (an empty list is a pass)."""
    from pyspark.sql import functions as F

    emp_env = envelopes.read_envelopes(emp_dir)
    act_env = envelopes.read_envelopes(act_dir)
    res: dict[str, list[str]] = {}
    for sink, payloads in (("employees_enriched", emp_env), ("activities_enriched", act_env)):
        got, want = spark.table(sink).count(), envelopes.upsert_count(payloads)
        res[f"{sink}_count"] = [] if got == want else [f"{sink}: {got} rows, {want} c/u envelopes"]

    acts = enrich_activities(decode_cdc(spark.read.text(act_dir), ACTIVITY_SCHEMA))
    hourly_want = stats.final_state(_collect_dicts(hourly_activity_aggregation(acts)), HOURLY_KEY)
    hourly_got = stats.final_state(_collect_dicts(spark.table("hourly_agg")), HOURLY_KEY)
    res["hourly_final_state"] = stats.state_mismatches(hourly_got, hourly_want, HOURLY_FIELDS)

    # the streaming daily agg counts employees with an HLL sketch, whose
    # merge is order-independent: the batch answer uses the same sketch
    daily = (
        acts.withColumn("_ts", F.col("activity_timestamp").cast("timestamp"))
        .groupBy(F.window("_ts", "1 day").start.alias("window_start"), "activity_type", "device_category")
        .agg(
            F.count("*").alias("activity_count"),
            F.approx_count_distinct("employee_id").alias("unique_employees"),
            F.avg("duration_seconds").alias("avg_duration"),
        )
    )
    daily_want = stats.final_state(_collect_dicts(daily), DAILY_KEY)
    daily_got = stats.final_state(_collect_dicts(spark.table("daily_agg")), DAILY_KEY)
    res["daily_final_state"] = stats.state_mismatches(daily_got, daily_want, DAILY_FIELDS)

    if lake:
        table = LakeTable(path=os.path.join(work_dir, "lake", "employees"))
        got = {
            r.id: (r.id, r.name, r.email, r.department)
            for r in table.read(spark).select("id", "name", "email", "department").collect()
        }
        want = envelopes.expected_lake(emp_env)
        res["lake_latest_version"] = [] if got == want else [
            f"lake: {len(got)} keys, {len(set(got.items()) ^ set(want.items()))} differing entries"
        ]
    return res


# -- cdc_drain --------------------------------------------------------------


def prepare_drain(root: str, seed: int) -> tuple[str, str, int]:
    emp_dir, act_dir = topic_dirs(root)
    n = envelopes.write_backlog(
        seed, emp_dir, act_dir, envelopes.DRAIN_FILES, *envelopes.file_mix(envelopes.DRAIN_ROWS_PER_FILE)
    )
    return emp_dir, act_dir, n["employees"] + n["activities"]


def drain_once(spark, emp_dir, act_dir, work_dir, progress, tracer, lake=True) -> dict:
    """One availableNow drain of the backlog; returns wall time and the
    backlog-to-sink latency of every ``activities_enriched`` row (all due
    when the drain starts). The employee sink is left out of the sample:
    with its own, much smaller batches it would make the median jump
    between two batch ends."""
    progress.clear()
    t0 = now_ms()
    with tracer.span("streaming.pipeline.CdcPipeline.start_memory_fanout"):
        orch = run_fanout(spark, emp_dir, act_dir, work_dir, lake=lake, available_now=True)
        ok = orch.await_all(timeout=150)
    wall = (now_ms() - t0) / 1000.0
    if not ok:
        orch.stop_all()
        raise RuntimeError("drain did not finish within 150 s")
    sink = "activities_enriched"
    lat, unmapped = settled_latencies(sink_latency_rows(spark, sink, t0), progress, sink)
    if unmapped:
        raise RuntimeError(f"{unmapped} {sink} rows map to no micro-batch")
    return {"wall_s": wall, "latencies": lat}


def settled_latencies(rows, progress, sink, timeout_s: float = 10.0):
    """Map rows to batch ends, waiting for progress events, which the
    listener receives asynchronously, to cover every row's batch."""
    deadline = time.monotonic() + timeout_s
    while True:
        got, unmapped = stats.event_to_sink_latencies(rows, progress.intervals(sink))
        if not unmapped or time.monotonic() > deadline:
            return got, unmapped
        time.sleep(0.05)


def measure_drain(ctx) -> dict:
    """Repeat the drain while another one fits in the run's measuring
    time (at least once); report medians."""
    import statistics

    emp_dir, act_dir, rows = ctx.inputs
    walls, p50s, tails, reps = [], [], [], 0
    deadline = time.monotonic() + ctx.seconds
    while reps < 1 or time.monotonic() + walls[-1] <= deadline:
        work = os.path.join(ctx.root, f"drain-{reps}")
        with ctx.tracer.span("drain", rep=reps):
            d = drain_once(ctx.spark, emp_dir, act_dir, work, ctx.progress, ctx.tracer)
        reps += 1
        walls.append(d["wall_s"])
        s = stats.latency_summary(d["latencies"])
        p50s.append(s["p50"])
        tails.append(s["tail"])
    ctx.attempt(reps, 0)
    wall = statistics.median(walls)
    return {
        "rows_per_s": rows / wall,
        "latency_p50_s": statistics.median(p50s),
        "latency_tail_s": statistics.median(tails),
        "_info": {
            "drain_rows_per_s": rows / wall,
            "drains": reps,
            "backlog_rows": rows,
            "latency_samples_per_drain": s["samples"],
            "tail_percentile": s["tail_pct"],
            "last_work_dir": work,
        },
    }


# -- cdc_steady -------------------------------------------------------------


def offered_rows_per_s() -> float:
    return envelopes.STEADY_ROWS_PER_FILE / envelopes.STEADY_INTERVAL_S


def measure_steady(ctx) -> dict:
    """Open loop: a separate one-thread process publishes envelope files
    on a fixed schedule while the fan-out runs on its default trigger."""
    emp_dir, act_dir = topic_dirs(os.path.join(ctx.root, "steady-input"))
    staging = os.path.join(ctx.root, "steady-staging")
    os.makedirs(staging, exist_ok=True)
    gen_log = os.path.join(ctx.root, "generator.json")
    work = os.path.join(ctx.root, "steady")
    ctx.progress.clear()
    with ctx.tracer.span("streaming.pipeline.CdcPipeline.start_memory_fanout"):
        orch = run_fanout(ctx.spark, emp_dir, act_dir, work, lake=False, available_now=False)
    start_ms = now_ms() + 1000  # let the four queries plan their first trigger
    window_ms = start_ms + PRE_ROLL_S * 1000
    emp_per_file, act_per_file = envelopes.file_mix(envelopes.STEADY_ROWS_PER_FILE)
    gen = subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py"),
            "--seed", str(ctx.seed),
            "--employees-dir", emp_dir,
            "--activities-dir", act_dir,
            "--staging-dir", staging,
            "--start-ms", str(start_ms),
            "--seconds", str(PRE_ROLL_S + ctx.seconds),
            "--interval-s", str(envelopes.STEADY_INTERVAL_S),
            "--employees-per-file", str(emp_per_file),
            "--activities-per-file", str(act_per_file),
            "--log", gen_log,
        ]
    )
    try:
        with ctx.tracer.span("sources.generator"):
            gen.wait(timeout=PRE_ROLL_S + ctx.seconds + 30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        orch.stop_all()
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(gen_log) as fh:
        published = json.load(fh)["files"]
    want = {
        "employees_enriched": sum(f["employees"] for f in published),
        "activities_enriched": sum(f["activities"] for f in published),
    }
    want["hourly_agg"] = want["daily_agg"] = want["activities_enriched"]

    def consumed(q):
        return sum(p["numInputRows"] for p in ctx.progress.batches(q))

    with ctx.tracer.span("steady.drain_out"):
        deadline = time.monotonic() + DRAIN_OUT_TIMEOUT_S
        while any(consumed(q) < n for q, n in want.items()) and time.monotonic() < deadline:
            time.sleep(0.05)
    orch.stop_all()
    if orch.failed():
        raise RuntimeError(f"steady queries failed: {orch.failed()}")

    # one sample per file due in the window and sink: a file's rows share
    # their due time and are read by one micro-batch, so they are one event
    lat, unmapped, last_end, window_rows = [], 0, window_ms, 0
    for sink in ENRICHED:
        rows = sink_latency_rows(ctx.spark, sink, None)
        window_rows += sum(due >= window_ms for due, _ in rows)
        files = sorted(set(rows))
        unmapped += settled_latencies(files, ctx.progress, sink)[1]
        window = [f for f in files if f[0] >= window_ms]
        lat.extend(stats.event_to_sink_latencies(window, ctx.progress.intervals(sink))[0])
        last_end = max([last_end] + [
            b["start_ms"] + b["durationMs"]["triggerExecution"]
            for b in ctx.progress.batches(sink) if b["numInputRows"]
        ])
    delivered = sum(
        ctx.spark.table(s).count() for s in ENRICHED
    )
    expected = sum(
        envelopes.upsert_count(envelopes.read_envelopes(d)) for d in (emp_dir, act_dir)
    )
    lost = max(expected - delivered, 0) + (unmapped > 0)
    ctx.attempt(expected, lost)
    summary = stats.latency_summary(lat)
    consumed_rows = sum(consumed(q) for q in ENRICHED)
    late = [f["published_ms"] - f["due_ms"] for f in published]
    ctx.inputs = (emp_dir, act_dir, consumed_rows)
    return {
        "rows_per_s": window_rows / ((last_end - window_ms) / 1000.0),
        "latency_p50_s": summary["p50"],
        "latency_tail_s": summary["tail"],
        "_info": {
            "event_to_sink_p50_s": summary["p50"],
            f"event_to_sink_p{summary['tail_pct']:g}_s": summary["tail"],
            "latency_samples_file_sink": summary["samples"],
            "steady_rows_per_s": window_rows / ((last_end - window_ms) / 1000.0),
            "offered_rows_per_s": offered_rows_per_s(),
            "generator_late_max_s": max(late) / 1000.0 if late else 0.0,
            "files_per_topic": len(published),
            "last_work_dir": work,
        },
        "_published": published,
    }

