"""Pure-Python statistics and output checks (no Spark imports), so the
benchmark's own logic is unit-testable in milliseconds."""

from __future__ import annotations

import math


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the numpy/DuckDB default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float:
    """The highest candidate percentile that leaves at least ten
    samples beyond it (p99 needs n >= 1000); p50 when none does."""
    for pct in TAIL_PERCENTILES:
        # integer per-mille arithmetic: 100 - 99.9 is not 0.1 in floats
        if n * (1000 - round(pct * 10)) >= 10 * 1000:
            return pct
    return 50.0


def latency_summary(samples: list[float]) -> dict:
    """Median and rule-picked tail of a latency sample, with its size."""
    pct = tail_percentile(len(samples))
    return {
        "p50": percentile(samples, 50.0),
        "tail": percentile(samples, pct),
        "tail_pct": pct,
        "samples": len(samples),
    }


def batch_end_ms(batch_ts_ms: int, progress: list[tuple[int, int]]) -> int | None:
    """End time of the micro-batch whose rows carry ``batch_ts_ms``.

    ``progress`` holds ``(trigger_start_ms, trigger_duration_ms)`` of one
    query's batches. A row's ``processing_timestamp`` is its batch's
    logical time, taken inside that batch's trigger interval, so the
    batch is the latest one that started at or before it.
    """
    best = None
    for start, dur in progress:
        if start <= batch_ts_ms and (best is None or start > best[0]):
            best = (start, dur)
    if best is None or batch_ts_ms > best[0] + best[1]:
        return None
    return best[0] + best[1]


def event_to_sink_latencies(
    rows: list[tuple[int, int]], progress: list[tuple[int, int]]
) -> tuple[list[float], int]:
    """Seconds from each row's due time to the end of the micro-batch
    that wrote it. ``rows`` are ``(due_ms, batch_ts_ms)``. Returns the
    latencies and the number of rows no batch accounts for."""
    ends: dict[int, int | None] = {}
    out, unmapped = [], 0
    for due_ms, ts_ms in rows:
        if ts_ms not in ends:
            ends[ts_ms] = batch_end_ms(ts_ms, progress)
        end = ends[ts_ms]
        if end is None:
            unmapped += 1
        else:
            out.append((end - due_ms) / 1000.0)
    return out, unmapped


def backlog_max_rows(published: list[dict], batches: list[dict], field: str) -> int:
    """Largest number of published rows not yet read when a batch began.
    ``published`` is the generator log (``published_ms`` and a row count
    under ``field`` per file); ``batches`` are one query's progress
    events (``start_ms``, ``numInputRows``)."""
    worst, consumed = 0, 0
    for b in sorted(batches, key=lambda p: p["start_ms"]):
        avail = sum(f[field] for f in published if f["published_ms"] <= b["start_ms"])
        worst = max(worst, avail - consumed)
        consumed += b["numInputRows"]
    return worst


def final_state(rows: list[dict], key: tuple[str, ...]) -> dict[tuple, dict]:
    """Latest row per key of an update-mode sink: every batch appends the
    groups it changed, and a group's count only grows, so the row with
    the largest ``activity_count`` is the final one."""
    out: dict[tuple, dict] = {}
    for r in rows:
        k = tuple(r[c] for c in key)
        if k not in out or r["activity_count"] > out[k]["activity_count"]:
            out[k] = r
    return out


def state_mismatches(
    streamed: dict[tuple, dict], expected: dict[tuple, dict], fields: tuple[str, ...]
) -> list[str]:
    """Keys whose streamed final state differs from the batch answer."""
    bad = [f"missing {k}" for k in expected if k not in streamed]
    bad += [f"extra {k}" for k in streamed if k not in expected]
    for k, want in expected.items():
        got = streamed.get(k)
        if got is None:
            continue
        for f in fields:
            if got[f] != want[f]:
                bad.append(f"{k}.{f}: {got[f]!r} != {want[f]!r}")
    return bad

