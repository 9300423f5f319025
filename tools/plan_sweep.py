"""Catalog-wide physical-plan sweep (round 5; extended round 6).

Builds EVERY batch query's DataFrame at the given SF and records the
markers that are red flags at 100 TB no matter the query (shared
vocabulary: ``plans/lint.py`` — ROW_UDF_RE, CARTESIAN_RE, and since
r6 SINGLE_PARTITION_RE with its committed per-query allowlist).

Queries whose BUILDER executes work (streaming availableNow runs,
lake/SCD2/snapshot writers, persistent index builds, IVM views — the
``EXEC_AT_BUILD_TAGS`` set) are skipped in the default batch mode.
Since r6 the ``--streaming`` mode covers them too: it runs each
exec-at-build builder under a UI-enabled session and lints EVERY SQL
execution the app performed — including the foreachBatch INNER batch
plans, which ``df.explain()`` on the outer stream never shows — via
the Spark UI REST endpoint (/api/v1/applications/{app}/sql), the
only JVM-free way to observe inner-plan strings from PySpark.

``HEAVY_BUILDERS`` (batch builders that train/collect at build time)
are skipped in batch mode and listed in the report, per the r5
advice: a lint run must stay O(plan), not O(training).

Usage:
    python tools/plan_sweep.py [sf_dir] [out_json]
    python tools/plan_sweep.py --streaming [sf_dir] [out_json]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.lint import (
    EXEC_AT_BUILD_TAGS,
    HEAVY_BUILDERS,
    SINGLE_PARTITION_ALLOWLIST,
    count_markers,
)


def _registry():
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        REGISTRY,
    )

    return REGISTRY


def batch_sweep(sf_dir: str, out: str) -> None:
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import (
        get_session,
    )

    spark = get_session("plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    rows = {}
    skipped, skipped_heavy = [], []
    for q in _registry():
        if EXEC_AT_BUILD_TAGS & set(q.tags):
            skipped.append(q.name)
            continue
        if q.name in HEAVY_BUILDERS:
            skipped_heavy.append(q.name)
            continue
        t0 = time.perf_counter()
        try:
            df = q.builder(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            m = count_markers(buf.getvalue())
            if q.name in SINGLE_PARTITION_ALLOWLIST:
                m["single_partition_allowlisted"] = m.pop(
                    "single_partition"
                )
            rows[q.name] = {
                "build_s": round(time.perf_counter() - t0, 3),
                **m,
            }
        except Exception as exc:  # noqa: BLE001
            rows[q.name] = {
                "build_s": round(time.perf_counter() - t0, 3),
                "error": f"{type(exc).__name__}: {exc}"[:200],
            }
    bad = {
        k: v
        for k, v in rows.items()
        if v.get("row_udf")
        or v.get("cartesian")
        or v.get("single_partition")
        or "error" in v
    }
    slow = {k: v["build_s"] for k, v in rows.items() if v["build_s"] > 5.0}
    report = {
        "mode": "batch",
        "sf_dir": sf_dir,
        "n_checked": len(rows),
        "n_skipped_exec_at_build": len(skipped),
        "skipped": skipped,
        "skipped_heavy_builders": skipped_heavy,
        "violations": bad,
        "slow_builders": slow,
        "queries": rows,
    }
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "checked": len(rows),
                "skipped": len(skipped),
                "skipped_heavy": len(skipped_heavy),
                "violations": len(bad),
                "slow_builders": slow,
            }
        )
    )


def streaming_sweep(sf_dir: str, out: str, heavy: bool = False) -> None:
    """Execute every exec-at-build builder under a UI-enabled session,
    then lint ALL SQL executions the app ran (foreachBatch inner
    plans included) from the UI REST API.

    ``heavy=True`` sweeps the HEAVY_BUILDERS set instead (VERDICT r8
    #3/#5): the batch sweep skips them because their builders train /
    collect at build time, which had removed their fact-scan plans
    from lint coverage when the r8 driver-loop rewrites landed —
    exec-at-build SQL-execution linting sees every plan those
    builders actually ran, including the pre-collect fact scans."""
    import urllib.request

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import (
        get_session,
    )

    # the engine's own session conf (host-derived parallelism, broadcast
    # threshold, AQE) so the lint sees the plans the engine runs; only
    # the UI is switched on, for the REST endpoint below
    spark = get_session(
        "plan-sweep-streaming",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "10000",
            "spark.sql.ui.retainedExecutions": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    ran, errors = [], {}
    boundaries = {}
    for q in _registry():
        if heavy:
            if q.name not in HEAVY_BUILDERS:
                continue
        elif not (EXEC_AT_BUILD_TAGS & set(q.tags)):
            continue
        t0 = time.perf_counter()
        try:
            df = q.builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ran.append(q.name)
        except Exception as exc:  # noqa: BLE001
            errors[q.name] = f"{type(exc).__name__}: {exc}"[:200]
        boundaries[q.name] = round(time.perf_counter() - t0, 2)
    execs = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/sql?length=100000&details=false&planDescription=true"
        )
    )
    viol = []
    for e in execs:
        plan = e.get("planDescription", "") or ""
        m = count_markers(plan)
        if m["row_udf"] or m["cartesian"]:
            viol.append(
                {
                    "sql_id": e.get("id"),
                    "description": (e.get("description") or "")[:160],
                    **{k: v for k, v in m.items() if v},
                }
            )
    report = {
        "mode": "heavy" if heavy else "streaming",
        "sf_dir": sf_dir,
        "n_builders_ran": len(ran),
        "ran": ran,
        "builder_errors": errors,
        "n_sql_executions_linted": len(execs),
        "violations": viol,
        "builder_wall_s": boundaries,
    }
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "ran": len(ran),
                "sql_executions_linted": len(execs),
                "violations": len(viol),
                "errors": len(errors),
            }
        )
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    streaming = "--streaming" in sys.argv
    heavy = "--heavy" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out = (
        args[1]
        if len(args) > 1
        else (
            "/tmp/plan_sweep_heavy.json"
            if heavy
            else "/tmp/plan_sweep_streaming.json"
            if streaming
            else "/tmp/plan_sweep.json"
        )
    )
    if streaming or heavy:
        streaming_sweep(sf_dir, out, heavy=heavy)
    else:
        batch_sweep(sf_dir, out)


if __name__ == "__main__":
    main()
