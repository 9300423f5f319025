"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 fixture set, ``SF_DIR``) on the engine session, whose master and
shuffle partitions come from the host's cores (``$SPARK_GRAFT_CPUS``,
else the CPU affinity set). Each query is materialized via the noop sink (full
execution, no driver collect cost, no disk write) and wall-clock timed,
min of ``$SPARK_GRAFT_BENCH_RUNS`` runs.

Selection: ``SPARK_GRAFT_BENCH_SET=slow`` times the EXCLUDE set
instead of the rest of the registry; ``SPARK_GRAFT_BENCH_ONLY`` (comma
list) narrows either set. ``SPARK_GRAFT_BENCH_OUT`` is where the full
per-query artifact goes. Two artifacts are compared with
``tools/bench_diff.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import get_session
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import legs
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
    CACHE_BACKED_QUERIES,
    REGISTRY,
)


def _slowest_queries(path: str, n: int = 10) -> list[str]:
    """The ``n`` slowest queries of a previous bench artifact's
    ``queries`` map; empty when there is no readable artifact."""
    try:
        with open(path) as fh:
            prev = json.load(fh)["queries"]
        return sorted(prev, key=lambda q: -prev[q])[:n]
    except (OSError, ValueError, KeyError, TypeError):
        return []


def _leg_entries() -> int:
    """Number of materialized shared-leg cache entries right now."""
    root = legs.root()
    try:
        return sum(
            os.path.isdir(os.path.join(root, e)) for e in os.listdir(root)
        )
    except OSError:  # pragma: no cover
        return 0

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Round 4 (VERDICT r3 #2): the bench covers the FULL registry —
# every catalog query is timed, not a hand-picked headline subset.
# EXCLUDE lists the only carve-outs, each with its measured sf0.1
# time from the full-catalog calibration run (PLANS.md round-4 bench
# audit) and the reason it would distort a per-query-seconds bench.
# All excluded queries stay oracle-checked for CORRECTNESS; time the
# set explicitly with SPARK_GRAFT_BENCH_SET=slow.
EXCLUDE: dict[str, str] = {
    "edit_distance_pairs_parts": (
        "34 s: output-bound — 5.5M TRUE ed≤2 pairs at sf0.1 (fixed "
        "90-word name vocabulary makes the answer itself quadratic); "
        "SymSpell blocking already cut it 9x from 305 s"
    ),
    "als_recommend_parts": (
        "36 s: iterative ALS training (2 full alternating solves); "
        "convergence/perf characterized in pytest + PLANS.md"
    ),
    "als_rmse_floor": (
        "22 s: trains the same ALS again as a CORRECTNESS gate; "
        "belongs to the oracle suite, not the bench"
    ),
    "contamination_ngram_overlap": (
        "17 s: 13-gram train x eval containment join over the "
        "full-corpus split; PLANS.md audit row"
    ),
    "bpe_merges_documents": (
        "14 s: 60-round iterative BPE trainer (driver-bounded merge "
        "table, corpus rescan per round by design)"
    ),
    "bpe_token_counts_documents": (
        "14 s: re-trains the merge table then tokenizes the corpus; "
        "cost = bpe_merges + one Arrow pass"
    ),
    "tokenizer_fertility_by_lang": (
        "8 s: re-trains the BPE merge table then encodes the corpus "
        "(same cost class as bpe_token_counts; per-language rollup "
        "on top)"
    ),
    # streaming_abandoned_views re-included in round 6: the
    # state-store partition pin (registry._stream_conf) cut its two
    # availableNow executions from 14 s to ~2.5 s warm at sf0.1.
    "pretrain_funnel_report": (
        "13 s: composes dedup + quality + langid over the corpus in "
        "one report (each stage benched separately)"
    ),
    "ann_topk_ivf_indexed": (
        "9 s: builds the persistent partitioned IVF index on disk, "
        "then queries it; index build dominates at sf0.1"
    ),
}


def materialize(df) -> None:
    """Run ``df`` to completion. Streaming builders run their stream
    inside the builder and return a batch frame."""
    df.write.format("noop").mode("overwrite").save()


# Fixed pure-JVM calibration query, timed FIRST and LAST and recorded
# next to the sweep: a whole-stage-codegen aggregation with no caches,
# no Python workers and no disk writes of note, so a reader can see how
# the box behaved over the run. Nothing here interprets the two numbers
# (on a freshly started JVM the first read is often the slow one: JIT
# warm-up, not a co-tenant).
SENTINEL_QUERY = "q01_pricing_summary"


def _sentinel_time(by_name, spark) -> float:
    """min-of-3 — a single-shot sentinel conflates JIT tiering
    with box contention (measured: q01 1.32 s on a 2-run-old JVM vs
    0.59 s fully warm)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        materialize(by_name[SENTINEL_QUERY].builder(spark, SF_DIR))
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    by_name = {q.name: q for q in REGISTRY}
    if os.environ.get("SPARK_GRAFT_BENCH_SET", "") == "slow":
        headline = list(EXCLUDE)
    else:
        headline = [q.name for q in REGISTRY if q.name not in EXCLUDE]
    # targeted re-times / harness tests: comma-separated query names
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        headline = [n for n in headline if n in wanted]
    spark = get_session("spark-graft-bench")
    # keep stderr to genuine errors: a transiently-failed first run of a
    # streaming query (retried below) otherwise dumps a scary WARN/INFO
    # trace into the driver's captured tail
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up passes so JVM/codegen startup doesn't skew query times.
    # THREE runs, not one: C2 compilation of the scan/agg/noop-writer
    # paths needs a few executions (measured: 1.26 s on a 2-run-old
    # JVM vs 0.37 s fully warm in the r7 sf1 sweep).
    for _ in range(3):
        materialize(by_name["q01_pricing_summary"].builder(spark, SF_DIR))
    try:
        loadavg_start = list(os.getloadavg())
    except OSError:  # pragma: no cover
        loadavg_start = None
    sentinel_first = _sentinel_time(by_name, spark)

    # Two timed runs per query, keep the min: single-JVM wall times on
    # a shared host see multi-x transient steal; min-of-2 reports the
    # machine's actual capability rather than co-tenant noise.
    # SPARK_GRAFT_BENCH_RUNS overrides for long campaigns (e.g. the
    # full-catalog true-sf1 sweep runs min-of-1 to halve wall time —
    # it hunts >5x nonlinearity, where co-tenant jitter is immaterial).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Cold/warm split for shared-leg cache readers (VERDICT r6 #4):
    # with min-of-N, a cache-backed query's number is a parquet read
    # and round-over-round diffs stop distinguishing materialization
    # cost from read cost. When the bench runs each query >=2 times,
    # clear the shared-leg cache before run 1 (cold = mine/score +
    # derive) and keep it for run 2 (warm = read + derive); publish
    # BOTH, and report warm — the steady-state pipeline cost — in the
    # headline map. min-of-1 campaigns (the true-sf1 sweep) skip the
    # protocol so the whole family still pays one mining run total.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    cache_backed: dict[str, dict[str, float]] = {}
    cold_flags: dict[str, bool] = {}
    for name in headline:
        qd = by_name[name]
        if runs >= 2 and name in CACHE_BACKED_QUERIES:
            try:
                legs.clear()
                t0 = time.perf_counter()
                materialize(qd.builder(spark, SF_DIR))
                cold = time.perf_counter() - t0
                # warm = min over (runs-1) repetitions after the cold
                # run (ADVICE r7): a single warm run carried the
                # co-tenant jitter the min-of-N protocol exists to
                # filter, making warm diffs for these rows noisier
                # than the rest of the artifact. Cold stays the
                # single first execution — it is by definition
                # unrepeatable without re-clearing the cache.
                warmt = float("inf")
                for _ in range(max(1, runs - 1)):
                    t0 = time.perf_counter()
                    materialize(qd.builder(spark, SF_DIR))
                    warmt = min(warmt, time.perf_counter() - t0)
                cache_backed[name] = {
                    "cold": round(cold, 3),
                    "warm": round(warmt, 3),
                }
                timings[name] = round(warmt, 3)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        # min-of-1 campaigns: record whether a cache-backed query was
        # the one that PAID the shared-leg materialization (the entry
        # count grew during its run), so sf1_triage can pair its time
        # with the base artifact's COLD column instead of warm.
        pre_entries = (
            _leg_entries() if name in CACHE_BACKED_QUERIES else None
        )
        best = float("inf")
        for _ in range(runs):
            try:
                t0 = time.perf_counter()
                df = qd.builder(spark, SF_DIR)
                materialize(df)
                best = min(best, time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 - one bad run must not kill the bench
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        if best < float("inf"):
            timings[name] = round(best, 3)
            errors.pop(name, None)
            if pre_entries is not None:
                cold_flags[name] = _leg_entries() > pre_entries
    sentinel_last = _sentinel_time(by_name, spark)
    try:
        loadavg_end = list(os.getloadavg())
    except OSError:  # pragma: no cover
        loadavg_end = None

    sentinel = {
        "query": SENTINEL_QUERY,
        "first_s": sentinel_first,
        "last_s": sentinel_last,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "blas_pins": {
            k: os.environ.get(k)
            for k in (
                "OMP_NUM_THREADS",
                "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS",
            )
        },
    }

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "runs_per_query": runs,
        "aggregation": "min",
        "queries": timings,
        "sf": sf_val,
        "sentinel": sentinel,
    }
    if cache_backed:
        full["cache_backed"] = cache_backed
    if cold_flags:
        full["cache_cold_flags"] = cold_flags
    if errors:
        full["errors"] = errors
    # The driver tail-captures only ~2 KB of stdout; a 90-query map on
    # one line overflows that and the round's bench signal is lost
    # (BENCH_r02.json recorded "parsed": null). So: persist the full
    # per-query payload to a file, echo the map EARLY in small chunks,
    # and make the LAST stdout line a compact summary the tail capture
    # can always recover.
    report_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_LATEST.json"
    )
    prev_inline = _slowest_queries(report_path)
    try:
        with open(report_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    except OSError:
        pass
    items = sorted(timings.items())
    for i in range(0, len(items), 10):
        print("per-query:", json.dumps(dict(items[i : i + 10])))
    # The inline map carries the 10 slowest queries PLUS the 10
    # slowest of the previous artifact, read before it is overwritten
    # (VERDICT r8 #6): the round-over-round comparator
    # diffs the inline maps, so a query that leaves the top-10
    # because it was OPTIMIZED otherwise reads as "dropped" (6 false
    # drops in r8). Union keeps every previously-reported query
    # visible with its new (faster) number. ADD-only per the driver
    # contract — nothing is removed or renamed.
    inline = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    for name in prev_inline:
        if name in timings:
            inline.setdefault(name, timings[name])
    summary = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "runs_per_query": runs,
        "aggregation": "min",
        # brief schema compliance without tail overflow: the slowest
        # 10 + last round's inline set; the full map is in queries_file
        "queries": inline,
        "queries_file": os.path.basename(report_path),
        "sentinel_first_s": sentinel_first,
        "sentinel_last_s": sentinel_last,
    }
    # stop any stream a failed builder left behind BEFORE spark.stop()
    # kills it mid-batch (that race prints a JVM interrupt stack trace)
    for s in spark.streams.active:
        s.stop()
    sys.stdout.flush()
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
