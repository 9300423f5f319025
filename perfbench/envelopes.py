"""Seeded Debezium CDC envelopes for the two pipeline topics.

Pure Python (no Spark): the drain backlog, the open-loop generator
process and the output checks all import this module, and the same
seed always yields byte-identical envelope lines.

Employees: c/u/d ops over a bounded key population whose draws are
skewed (Zipf-like), so a few keys are updated often. Activities: mostly
creates, a few updates and deletes; a bounded share of them carry an
event time up to ``MAX_DISORDER_S`` before their stream position,
which stays inside the pipeline's 2-hour hourly watermark, so no row
is dropped as late.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

# Key population, skew, disorder and op mix are synthetic choices (the
# reference publishes none), each made so one path of the pipeline runs:
# - EMPLOYEE_KEYS: bounded, so keys recur and the lake merges updates of
#   known keys instead of only appending new ones;
# - EMPLOYEE_SKEW: Zipf exponent of the key draws, so a few hot keys
#   change often while most change rarely;
# - DISORDER_SHARE / MAX_DISORDER_S: a bounded share of activities lag
#   their stream position, so the aggregations update earlier windows,
#   while every lag stays inside the 2-hour watermark and no row drops;
# - ACTIVITY_UPDATE_SHARE / ACTIVITY_DELETE_SHARE: activity is mostly
#   appends, with a few corrections and deletes that decode must handle.
EMPLOYEE_KEYS = 2_000
EMPLOYEE_SKEW = 1.1
DISORDER_SHARE = 0.10
MAX_DISORDER_S = 1_800
ACTIVITY_UPDATE_SHARE = 0.05
ACTIVITY_DELETE_SHARE = 0.03

# Traffic shape. The reference pipeline publishes no event rates or
# mixes (only its 10-30 s trigger cadences), so these are synthetic
# choices, the same in every workload:
# - one employee change per fifteen activity events: activity is far
#   more frequent than changes to employee records;
# - cdc_drain: a backlog of DRAIN_FILES files of DRAIN_ROWS_PER_FILE
#   envelopes (both topics together), read one file per trigger, so
#   every query drains it in exactly DRAIN_FILES micro-batches, each large
#   enough that per-row work shows next to the per-batch costs (three,
#   so the median row lands inside the middle batch, not on the edge
#   between two);
# - cdc_steady: one file per topic every STEADY_INTERVAL_S with
#   STEADY_ROWS_PER_FILE envelopes: 128 rows/s offered, about a sixth of
#   the drain rate on a 4-core host, so reading keeps up with publishing
#   and no backlog builds; four files a second give 80 latency samples
#   in a 10 s window.
EMPLOYEES_PER_ACTIVITY = 1 / 15
DRAIN_FILES = 3
DRAIN_ROWS_PER_FILE = 6_400
WARM_UP_ROWS_PER_FILE = 640  # warm-up backlog: DRAIN_FILES files a tenth the size
STEADY_INTERVAL_S = 0.25
STEADY_ROWS_PER_FILE = 32


def file_mix(rows: int) -> tuple[int, int]:
    """(employee, activity) envelopes of a file of ``rows`` envelopes."""
    emp = round(rows * EMPLOYEES_PER_ACTIVITY / (1 + EMPLOYEES_PER_ACTIVITY))
    return emp, rows - emp


_DEPTS = ("Engineering", "IT", "Sales", "Marketing", "HR", "Finance")
_EMAILS = ("", "senior.", "lead.")
_ACTIVITIES = ("login", "logout", "page_view", "click", "download")
_DEVICES = ("mobile", "tablet", "desktop")
_BROWSERS = ("chrome", "firefox", "safari")


def _iso(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _envelope(op: str, row: dict, ts_ms: int) -> str:
    image = json.dumps(row, separators=(",", ":"))
    payload = {
        "before": image if op == "d" else None,
        "after": None if op == "d" else image,
        "op": op,
        "ts_ms": ts_ms,
    }
    return json.dumps({"payload": payload}, separators=(",", ":"))


class EnvelopeSource:
    """Deterministic envelope stream for one seed.

    ``employees(n, ts_ms)`` / ``activities(n, ts_ms)`` return ``n``
    envelope lines whose ``ts_ms`` is the caller's (the generator passes
    each file's scheduled due time). Calls advance the stream: a second
    call continues where the first stopped.
    """

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        weights = [1.0 / (k ** EMPLOYEE_SKEW) for k in range(1, EMPLOYEE_KEYS + 1)]
        total = sum(weights)
        acc, self._cum = 0.0, []
        for w in weights:
            acc += w / total
            self._cum.append(acc)
        self._seen: set[int] = set()
        self._next_activity = 0

    def _employee_key(self, taken: set[int]) -> int:
        while True:
            k = min(bisect.bisect_left(self._cum, self._rng.random()), EMPLOYEE_KEYS - 1) + 1
            if k not in taken:
                return k

    def employees(self, n: int, ts_ms: int) -> list[str]:
        """``n`` employee envelopes, each key at most once per call (one
        file is one micro-batch, and the lake's precombine field is the
        batch time, so two versions of a key in one batch would tie)."""
        n = min(n, EMPLOYEE_KEYS)
        out, taken = [], set()
        for _ in range(n):
            k = self._employee_key(taken)
            taken.add(k)
            if k not in self._seen:
                op = "c"
            else:
                op = "d" if self._rng.random() < 0.1 else "u"
            self._seen.add(k)
            if op == "d":
                self._seen.discard(k)
            row = {
                "id": k,
                "name": f"emp{k}",
                "email": f"{self._rng.choice(_EMAILS)}emp{k}@corp.test",
                "department": self._rng.choice(_DEPTS),
                "created_at": "2024-01-01T08:00:00",
            }
            out.append(_envelope(op, row, ts_ms))
        return out

    def activities(self, n: int, ts_ms: int) -> list[str]:
        out = []
        for _ in range(n):
            i = self._next_activity
            self._next_activity += 1
            r = self._rng.random()
            if r < ACTIVITY_DELETE_SHARE:
                op = "d"
            elif r < ACTIVITY_DELETE_SHARE + ACTIVITY_UPDATE_SHARE:
                op = "u"
            else:
                op = "c"
            event_ms = ts_ms
            if self._rng.random() < DISORDER_SHARE:
                event_ms -= self._rng.randrange(1, MAX_DISORDER_S) * 1000
            emp = self._employee_key(set())
            row = {
                "id": f"a{i}",
                "employee_id": emp,
                "activity_type": self._rng.choice(_ACTIVITIES),
                "page_url": f"/page/{self._rng.randrange(64)}",
                "duration_seconds": self._rng.randrange(1, 900),
                "ip_address": f"10.0.{emp % 256}.{i % 256}",
                "user_agent": "bench",
                "activity_timestamp": _iso(event_ms),
                "session_id": f"s{emp}-{i // 64}",
                "device_type": self._rng.choice(_DEVICES),
                "browser": self._rng.choice(_BROWSERS),
                "created_at": _iso(ts_ms),
            }
            out.append(_envelope(op, row, ts_ms))
        return out


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def write_backlog(
    seed: int, emp_dir: str, act_dir: str, files: int, emp_per_file: int, act_per_file: int
) -> dict:
    """Drain input: ``files`` files per topic, file ``f`` stamped one
    minute after file ``f - 1``. Returns the envelope counts."""
    src = EnvelopeSource(seed)
    for f in range(files):
        ts = EPOCH_MS + f * 60_000
        write_lines(f"{emp_dir}/part-{f:05d}.json", src.employees(emp_per_file, ts))
        write_lines(f"{act_dir}/part-{f:05d}.json", src.activities(act_per_file, ts))
    return {"employees": files * emp_per_file, "activities": files * act_per_file}


def read_envelopes(directory: str) -> list[dict]:
    """All payloads under ``directory`` in file order (checks only)."""
    out = []
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as fh:
            out.extend(json.loads(line)["payload"] for line in fh if line.strip())
    return out


def expected_lake(employee_payloads: list[dict]) -> dict[int, tuple]:
    """Newest non-deleted version per employee key. The pipeline's lake
    sink drops deletes (``decode_cdc`` keeps c/u only), so a delete
    leaves the previous version in place."""
    latest: dict[int, tuple] = {}
    for p in employee_payloads:
        if p["op"] in ("c", "u"):
            row = json.loads(p["after"])
            latest[row["id"]] = (row["id"], row["name"], row["email"], row["department"])
    return latest


def upsert_count(payloads: list[dict]) -> int:
    return sum(p["op"] in ("c", "u") for p in payloads)
