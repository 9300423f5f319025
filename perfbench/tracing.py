"""Measurement helpers: spans, peak memory, streaming progress and the
Spark event-log fold.

Spans are recorded only from the benchmark's own files, around the calls
it makes into the program, and are kept in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager


def now_ms() -> int:
    return int(time.time() * 1000)


class Tracer:
    """In-memory spans (name, start, end, parent, run id). A disabled
    tracer still times nothing extra: ``span`` yields without recording."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.spans[self._stack[-1]]["id"] if self._stack else None,
            "id": idx,
            "run_id": self.run_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)


def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants, as
    proportional set size: forked Python workers share their parent's
    pages, which plain RSS would count once per worker."""
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(children(pid))
    return total / 1024.0


class PeakRss:
    """Samples the driver JVM's process tree (JVM plus Python workers)
    every ``period`` seconds on one daemon thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid = pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))


def _iso_ms(ts: str) -> int:
    import datetime as dt

    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


class ProgressLog:
    """The benchmark's own ``StreamingQueryListener``: keeps every
    progress event per query name as plain dicts."""

    def __init__(self):
        self.by_query: dict[str, list[dict]] = {}
        self._lock = threading.Lock()
        self._listener = None

    def attach(self, spark) -> "ProgressLog":
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                p["start_ms"] = _iso_ms(p["timestamp"])
                with log._lock:
                    log.by_query.setdefault(p.get("name") or p["id"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def batches(self, query: str) -> list[dict]:
        with self._lock:
            return list(self.by_query.get(query, []))

    def intervals(self, query: str) -> list[tuple[int, int]]:
        return [
            (p["start_ms"], p["durationMs"].get("triggerExecution", 0))
            for p in self.batches(query)
        ]

    def clear(self) -> None:
        with self._lock:
            self.by_query.clear()


SPARK_FOLD_KEYS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "jvm_gc_s",
    "python_worker_s",
    "task_slot_util",
)

# SQL timing metric (milliseconds, per task) of the Python-worker
# operators (mapInPandas, Arrow / pandas UDFs, applyInPandasWithState).
# Their worker start and initialization timers are left out: they
# overlap the run timer and can exceed the task's own run time.
_PYTHON_RUN_ACCUMULABLE = "time to run python workers"


def _fold(events: list[dict], windows: list[tuple[int, int]], cores: int) -> dict:
    out = dict.fromkeys(SPARK_FOLD_KEYS, 0.0)
    stages: set[int] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            if any(a <= t <= b for a, b in windows):
                out["jobs"] += 1
                stages.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if ev.get("Stage ID") not in stages or not m:
                continue
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = (acc.get("Name") or "").lower()
                if name == _PYTHON_RUN_ACCUMULABLE:
                    try:
                        out["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
                    except (TypeError, ValueError):
                        pass
    span_s = sum(b - a for a, b in windows) / 1e3
    if span_s > 0:
        out["task_slot_util"] = out["executor_run_s"] / (span_s * cores)
    return out


def fold_event_log(log_dir: str, windows: dict[str, list[tuple[int, int]]], cores: int) -> dict:
    """Task-metric totals from the Spark event log in ``log_dir``, one
    fold per name in ``windows``: the jobs submitted inside any of that
    name's ``(start_ms, end_ms)`` windows, a task counting toward its
    stage's job. ``task_slot_util`` is executor run time over the
    windows' total length times ``cores``."""
    # Spark 4 writes a rolling log: one directory of event files per app
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
        if not f.startswith(".")
    )
    events = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                if ev.get("Event") in ("SparkListenerJobStart", "SparkListenerTaskEnd"):
                    events.append(ev)
    return {name: _fold(events, w, cores) for name, w in windows.items()}
