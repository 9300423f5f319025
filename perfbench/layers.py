"""The traced run: per-layer metrics, spans and the event-log fold.

After the untraced measurement, the session is restarted with Spark's
event log on, the same measurement runs again under spans and job
groups, and each layer is read off: streaming progress from the
benchmark's own listener, prefix materializations for the decode /
enrich / aggregate operators, a replay of the lake's upserts, and task
metrics from the event log. The catalog's layers (registry builders,
the shared-leg cache and a task-metric fold per query group) come from
the traced ``catalog_mix`` passes, and from one traced catalog pass that
the traced ``cdc_steady`` run adds, so they are measured on a workload
of the benchmark too. Every run emits every metric; a layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

import catalog
import cdc
import stats
from tracing import Tracer, fold_event_log, now_ms, SPARK_FOLD_KEYS

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.aggregates import (
    daily_activity_aggregation,
    hourly_activity_aggregation,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.enrich import (
    enrich_activities,
    enrich_employees,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.schemas import (
    ACTIVITY_SCHEMA,
    EMPLOYEE_SCHEMA,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.cdc import (
    decode_cdc,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.lake import (
    LakeTable,
)

STREAM_QUERIES = cdc.ENRICHED + cdc.AGGREGATES + ("lake-employees",)
_SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "jvm_gc_s": "s", "python_worker_s": "s", "task_slot_util": "ratio",
}

UNITS: dict[str, str] = {
    "session.get_session_s": "s",
    "jvm.peak_rss_mb": "MB",
    "sources.cdc.decode_self_s": "s",
    "operators.enrich.self_s": "s",
    "operators.aggregates.hourly_self_s": "s",
    "operators.aggregates.daily_self_s": "s",
    "sources.backlog_max_rows": "rows",
    "sources.generator_late_max_s": "s",
    "sources.latestOffset_ms_p50": "ms",
    "sources.getBatch_ms_p50": "ms",
    "streaming.queryPlanning_ms_p50": "ms",
    "streaming.walCommit_ms_p50": "ms",
    "streaming.commitOffsets_ms_p50": "ms",
    **{f"streaming.{q}.addBatch_ms_p50": "ms" for q in STREAM_QUERIES},
    "operators.aggregates.state_rows": "rows",
    "operators.aggregates.state_memory_bytes": "bytes",
    "operators.aggregates.state_commit_ms_p50": "ms",
    "operators.aggregates.state_store_instances": "count",
    "streaming.lake.upsert_s": "s",
    "streaming.lake.compact_s": "s",
    "streaming.lake.write_amplification": "ratio",
    "streaming.lake.files_per_partition": "count",
    **{f"spark.pipeline.{k}": _SPARK_UNITS[k] for k in SPARK_FOLD_KEYS},
    **{f"plans.registry.{g}.{k}": "s" for g in catalog.GROUPS for k in ("build_s", "exec_s")},
    "plans.shared_leg.entries_published": "count",
    "plans.shared_leg.hits": "count",
    **{f"spark.{g}.{k}": _SPARK_UNITS[k] for g in catalog.GROUPS for k in SPARK_FOLD_KEYS},
    "streaming.single_core_drain_rows_per_s": "1/s",
    "tracing.rows_per_s_overhead": "1/s",
    "tracing.latency_p50_overhead_s": "s",
}


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def streaming_layers(progress) -> dict:
    out = {}
    batches = {q: progress.batches(q) for q in STREAM_QUERIES}
    every = [b for bs in batches.values() for b in bs]

    def durations(key, bs):
        return [b["durationMs"][key] for b in bs if key in b.get("durationMs", {})]

    for key in ("latestOffset", "getBatch"):
        out[f"sources.{key}_ms_p50"] = _p50(durations(key, every))
    for key in ("queryPlanning", "walCommit", "commitOffsets"):
        out[f"streaming.{key}_ms_p50"] = _p50(durations(key, every))
    for q, bs in batches.items():
        out[f"streaming.{q}.addBatch_ms_p50"] = _p50(durations("addBatch", bs))
    agg = [b for q in cdc.AGGREGATES for b in batches[q]]
    last = [batches[q][-1] for q in cdc.AGGREGATES if batches[q]]
    ops_last = [op for b in last for op in b.get("stateOperators", [])]
    out["operators.aggregates.state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops_last)
    out["operators.aggregates.state_memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in ops_last)
    out["operators.aggregates.state_store_instances"] = sum(
        op.get("numStateStoreInstances", 0) for op in ops_last
    )
    out["operators.aggregates.state_commit_ms_p50"] = _p50(
        [op.get("commitTimeMs", 0) for b in agg for op in b.get("stateOperators", [])]
    )
    return out


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def prefix_layers(spark, emp_dir: str, act_dir: str, tracer, reps: int = 3) -> dict:
    """Self time of decode, enrich and each aggregation as increments of
    prefix materializations over the workload's input, batch-read:
    raw -> decode_cdc -> enrich -> aggregation (median of ``reps``)."""
    stages = {}
    raw_e, raw_a = spark.read.text(emp_dir), spark.read.text(act_dir)
    dec_e, dec_a = decode_cdc(raw_e, EMPLOYEE_SCHEMA), decode_cdc(raw_a, ACTIVITY_SCHEMA)
    enr_e, enr_a = enrich_employees(dec_e), enrich_activities(dec_a)
    plans = {
        "raw_e": raw_e, "dec_e": dec_e, "enr_e": enr_e,
        "raw_a": raw_a, "dec_a": dec_a, "enr_a": enr_a,
        "hourly": hourly_activity_aggregation(enr_a),
        "daily": daily_activity_aggregation(enr_a),
    }
    for name, df in plans.items():
        times = []
        for _ in range(reps):
            with tracer.span(f"prefix.{name}"):
                times.append(_noop_s(df))
        stages[name] = statistics.median(times)
    return {
        "sources.cdc.decode_self_s": (stages["dec_e"] - stages["raw_e"]) + (stages["dec_a"] - stages["raw_a"]),
        "operators.enrich.self_s": (stages["enr_e"] - stages["dec_e"]) + (stages["enr_a"] - stages["dec_a"]),
        "operators.aggregates.hourly_self_s": stages["hourly"] - stages["enr_a"],
        "operators.aggregates.daily_self_s": stages["daily"] - stages["enr_a"],
    }


def lake_layers(spark, emp_dir: str, root: str, tracer) -> dict:
    """Replay the drain's employee batches through ``LakeTable`` directly:
    one ``upsert_batch`` per input file, then one ``compact``."""
    table = LakeTable(path=os.path.join(root, "lake-replay", "employees"))
    upsert_s = incoming = written = 0.0
    for name in sorted(os.listdir(emp_dir)):
        batch = enrich_employees(decode_cdc(spark.read.text(os.path.join(emp_dir, name)), EMPLOYEE_SCHEMA))
        incoming += batch.count()
        t0 = time.perf_counter()
        with tracer.span("streaming.lake.LakeTable.upsert_batch"):
            table.upsert_batch(batch, spark)
        upsert_s += time.perf_counter() - t0
        # every upsert rewrites each partition it touches in full
        written += spark.read.parquet(table.path).count()
    parts = [p for p in os.listdir(table.path) if "=" in p]
    files = sum(
        f.endswith(".parquet") for p in parts for f in os.listdir(os.path.join(table.path, p))
    )
    t0 = time.perf_counter()
    with tracer.span("streaming.lake.LakeTable.compact"):
        table.compact(spark)
    return {
        "streaming.lake.upsert_s": upsert_s,
        "streaming.lake.compact_s": time.perf_counter() - t0,
        "streaming.lake.write_amplification": written / incoming,
        "streaming.lake.files_per_partition": files / max(len(parts), 1),
    }


def catalog_layers(run, passes: list[list[dict]] | None = None) -> tuple[dict, dict]:
    """Per-group builder and sink time and the shared-leg counters, per
    pass (median over ``passes``), and each group's query windows in the
    last pass for the event-log fold. Without ``passes``, generates the
    catalog tables, runs the output checks (which also compile the
    plans) and then one traced pass."""
    if passes is None:
        data_dir = os.path.join(run.root, "catalog-input")
        catalog.write_tables(data_dir, run.seed)
        with run.tracer.span("catalog.check"):
            run.record_checks(catalog.check_outputs(run.spark, data_dir))
        with run.tracer.span("catalog.pass"):
            passes = [catalog.run_pass(run.spark, data_dir, run.tracer)]
    out = {}
    for g in catalog.GROUPS:
        for k in ("build_s", "exec_s"):
            out[f"plans.registry.{g}.{k}"] = statistics.median(
                sum(r[k] for r in p if r["group"] == g) for p in passes
            )
    out["plans.shared_leg.entries_published"] = statistics.median(
        sum(r["legs_published"] for r in p) for p in passes
    )
    out["plans.shared_leg.hits"] = statistics.median(sum(r["leg_hits"] for r in p) for p in passes)
    windows = {g: [(r["start_ms"], r["end_ms"]) for r in passes[-1] if r["group"] == g]
               for g in catalog.GROUPS}
    return out, windows


def traced(run, measure, untraced: dict, untraced_values: dict, out_dir: str) -> dict:
    """Run ``measure`` again under tracing and return every per-layer
    metric, plus ``_overhead``: traced minus untraced end-to-end values.
    Spans and the event-log fold are written to ``out_dir``."""
    run.root = os.path.join(run.root, "traced")
    log_dir = os.path.join(run.root, "event-log")
    os.makedirs(log_dir)
    run.restart_session(extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",  # plain JSON lines for the fold
    })
    run.tracer = Tracer(enabled=True)
    metrics = dict.fromkeys(UNITS, 0.0)
    metrics["session.get_session_s"] = run.launch_s
    metrics["jvm.peak_rss_mb"] = run.peak_rss_mb
    if run.workload != "cdc_steady":
        run.seconds = 0  # one traced drain, two traced catalog passes
    start = now_ms()
    with run.tracer.span("measure", workload=run.workload):
        result = measure(run)
    end = now_ms()
    metrics.update(streaming_layers(run.progress))
    if run.workload == "cdc_steady":
        published = result["_published"]
        metrics["sources.generator_late_max_s"] = result["_info"]["generator_late_max_s"]
        metrics["sources.backlog_max_rows"] = max(
            stats.backlog_max_rows(published, run.progress.batches(q), field)
            for q, field in (("employees_enriched", "employees"), ("activities_enriched", "activities"))
        )
    windows = {"pipeline": [(start, end)]}
    if run.workload == "catalog_mix":
        cat, groups = catalog_layers(run, result["_passes"])
    else:
        emp_dir, act_dir = run.inputs[0], run.inputs[1]
        metrics.update(prefix_layers(run.spark, emp_dir, act_dir, run.tracer))
        if run.workload == "cdc_drain":
            metrics.update(lake_layers(run.spark, emp_dir, run.root, run.tracer))
        cat, groups = catalog_layers(run) if run.workload == "cdc_steady" else ({}, {})
    metrics.update(cat)
    windows.update(groups)
    run.progress.detach(run.spark)
    run.spark.stop()  # flushes the event log
    fold = fold_event_log(log_dir, windows, run.cores)
    for name, totals in fold.items():
        metrics.update({f"spark.{name}.{k}": v for k, v in totals.items()})
    if run.workload == "cdc_drain":
        run.start_session(master="local[1]")
        with run.tracer.span("single_core_drain"):
            d = cdc.drain_once(run.spark, emp_dir, act_dir, os.path.join(run.root, "single-core"),
                               run.progress, run.tracer)
        metrics["streaming.single_core_drain_rows_per_s"] = run.inputs[2] / d["wall_s"]
    overhead = {k: result[k] - untraced[k] for k in ("rows_per_s", "latency_p50_s", "latency_tail_s")}
    metrics["tracing.rows_per_s_overhead"] = overhead["rows_per_s"]
    metrics["tracing.latency_p50_overhead_s"] = overhead["latency_p50_s"]

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{run.workload}-seed{run.seed}.json")
    run.tracer.write(path, {
        "workload": run.workload,
        "seed": run.seed,
        "untraced": untraced_values,
        "traced": {k: result[k] for k in overhead},
        "overhead": overhead,
        "event_log_fold": fold,
        "per_layer": metrics,
    })
    metrics["_overhead"] = overhead
    return metrics
