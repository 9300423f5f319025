"""Benchmark entry point for the CDC pipeline engine.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Runs one workload (``cdc_drain``, ``cdc_steady`` or ``catalog_mix``) on
inputs generated from ``--seed``, measures for about ``--seconds``,
checks the program's outputs and prints, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). The line before it holds the workload's own
figures under the names the README uses.

Only the host core count is pinned (``SPARK_GRAFT_CPUS``); every other
program setting stays at its default. Each run works in a fresh
directory under ``.perfbench_tmp/`` in the checkout (``TMPDIR``, Spark
local dirs, checkpoints, lake, inputs), removed at exit. A traced run
also writes its spans and event-log fold to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
# The one program setting the benchmark pins: the host's usable cores.
# The package reads it when first imported, so it is set before that.
os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

import catalog  # noqa: E402
import cdc  # noqa: E402
import envelopes  # noqa: E402
import layers  # noqa: E402
from tracing import PeakRss, ProgressLog, Tracer, children, tree_rss_mb  # noqa: E402

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import (  # noqa: E402
    get_session,
)

WORKLOADS = ("cdc_drain", "cdc_steady", "catalog_mix")
END_TO_END = ("setup_s", "retained_mb", "rows_per_s", "latency_p50_s", "latency_tail_s")
UNITS = {"setup_s": "s", "retained_mb": "MB", "rows_per_s": "1/s",
         "latency_p50_s": "s", "latency_tail_s": "s"}


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.root = root
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=False)
        self.progress = ProgressLog()
        self.spark = None
        self.inputs = None
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, list[str]] = {}
        self.phases: dict[str, object] = {}

    def attempt(self, n: int, failed: int) -> None:
        self.attempted += n
        self.failed += failed

    def record_checks(self, results: dict[str, list[str]]) -> None:
        for name, bad in results.items():
            self.attempt(1, 1 if bad else 0)
            if bad:
                self.failures[name] = bad[:5]

    # -- session lifecycle ------------------------------------------------

    def start_session(self, extra_conf=None, master=None) -> float:
        t0 = time.perf_counter()
        self.spark = get_session(f"perfbench-{self.workload}", master=master, extra_conf=extra_conf)
        self.progress.attach(self.spark)
        return time.perf_counter() - t0

    def restart_session(self, extra_conf=None, master=None) -> float:
        self.progress.detach(self.spark)
        self.spark.stop()
        return self.start_session(extra_conf, master)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid


def stop_jvm(run: Run) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    workers = []
    todo = [proc.pid]
    while todo:
        kids = children(todo.pop())
        workers.extend(kids)
        todo.extend(kids)
    if run.spark is not None:
        run.progress.detach(run.spark)
        run.spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a hung JVM is killed below
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- workload steps ----------------------------------------------------------


def prepare(run: Run):
    """Input generation (steady makes its input while running)."""
    d = os.path.join(run.root, "input")
    if run.workload == "cdc_drain":
        return cdc.prepare_drain(d, run.seed)
    if run.workload == "catalog_mix":
        return d, catalog.write_tables(d, run.seed)
    return None


def warm_up(run: Run) -> None:
    """Compile and JIT the measured plans once before timing: the CDC
    workloads drain a small backlog in as many micro-batches as the
    measured drain (so the lake's merge path and the state stores' reload
    from a previous version run too); the catalog runs one pass."""
    if run.workload == "catalog_mix":
        catalog.run_pass(run.spark, run.inputs[0], run.tracer)
        return
    d = os.path.join(run.root, "warm-up")
    emp_dir, act_dir = cdc.topic_dirs(os.path.join(d, "input"))
    envelopes.write_backlog(run.seed + 1, emp_dir, act_dir, envelopes.DRAIN_FILES,
                            *envelopes.file_mix(envelopes.WARM_UP_ROWS_PER_FILE))
    cdc.drain_once(run.spark, emp_dir, act_dir, d, run.progress, run.tracer,
                   lake=run.workload == "cdc_drain")


def measure(run: Run) -> dict:
    if run.workload == "cdc_drain":
        return cdc.measure_drain(run)
    if run.workload == "catalog_mix":
        return catalog.measure(run)
    return cdc.measure_steady(run)


def check(run: Run, result: dict) -> None:
    if run.workload == "catalog_mix":
        run.record_checks(catalog.check_outputs(run.spark, run.inputs[0]))
        return
    work = result["_info"]["last_work_dir"]
    emp_dir, act_dir = run.inputs[0], run.inputs[1]
    run.record_checks(
        cdc.check_outputs(run.spark, emp_dir, act_dir, work, lake=run.workload == "cdc_drain")
    )


def setup(run: Run) -> float:
    """One pass of JVM launch and session, input generation and warm-up."""
    t0 = time.perf_counter()
    run.launch_s = run.start_session()
    t1 = time.perf_counter()
    run.inputs = prepare(run)
    t2 = time.perf_counter()
    warm_up(run)
    t3 = time.perf_counter()
    run.phases.update(launch_s=t1 - t0, prepare_s=t2 - t1, warm_up_s=t3 - t2)
    return t3 - t0


def retained_mb(run: Run) -> float:
    """Memory the driver JVM and its Python workers keep once the work is
    done: a full GC, then their proportional set size. (Their peak during
    the measured phase follows the garbage collector's heap sizing and
    varies too much between runs to bound; it is a per-layer metric.)"""
    run.spark._jvm.System.gc()
    time.sleep(0.5)
    return tree_rss_mb(run.jvm_pid())


def end_to_end(result: dict, setup_s: float, retained: float) -> dict:
    vals = {"setup_s": setup_s, "retained_mb": retained}
    vals.update({k: result[k] for k in END_TO_END if k in result})
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC pipeline engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tmp_base = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(tmp_base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_base)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(root, sub))
    # fresh per run: temporary files, Spark's scratch space and the
    # catalog's shared-leg cache (which lives under TMPDIR) start empty
    # and are never shared with another process
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
    ).strip()

    run = Run(args, root)
    try:
        setup_s = setup(run)
        t0 = time.perf_counter()
        with PeakRss(run.jvm_pid()) as rss:
            result = measure(run)
        run.phases["measure_s"] = time.perf_counter() - t0
        values = end_to_end(result, setup_s, retained_mb(run))
        run.peak_rss_mb = rss.peak_mb
        t0 = time.perf_counter()
        check(run, result)
        run.phases["check_s"] = time.perf_counter() - t0
        info = {"workload": run.workload, "seed": run.seed, **result["_info"],
                "failed_ops_frac": run.failed / run.attempted, "failures": run.failures,
                "phases": run.phases}
        if args.trace:
            t0 = time.perf_counter()
            metrics = layers.traced(run, measure, result, values, os.path.join(REPO, ".perfbench_out"))
            run.phases["traced_s"] = time.perf_counter() - t0
            info["tracing_overhead"] = metrics.pop("_overhead")
            out = {k: {"value": float(v), "unit": layers.UNITS[k]} for k, v in metrics.items()}
        else:
            out = {k: {"value": float(values[k]), "unit": UNITS[k]} for k in END_TO_END}
        stop_jvm(run)
        print(json.dumps({"info": info}, default=str))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": out,
        }))
        return 0
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_jvm(run)
        finally:
            shutil.rmtree(root, ignore_errors=True)
            try:
                os.rmdir(tmp_base)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
