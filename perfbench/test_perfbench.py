"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog  # noqa: E402
import envelopes  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def _backlog_bytes(tmp_path, tag, seed):
    emp, act = tmp_path / f"{tag}-e", tmp_path / f"{tag}-a"
    emp.mkdir()
    act.mkdir()
    envelopes.write_backlog(seed, str(emp), str(act), files=2, emp_per_file=50, act_per_file=200)
    return [p.read_bytes() for d in (emp, act) for p in sorted(d.iterdir())]


def test_same_seed_gives_byte_identical_envelopes(tmp_path):
    first = _backlog_bytes(tmp_path, "one", 7)
    assert first == _backlog_bytes(tmp_path, "two", 7)
    assert first != _backlog_bytes(tmp_path, "other", 8)


def test_generator_stream_matches_seed():
    a, b = envelopes.EnvelopeSource(3), envelopes.EnvelopeSource(3)
    for due in (1_000, 2_000):
        assert a.employees(20, due) == b.employees(20, due)
        assert a.activities(30, due) == b.activities(30, due)


def test_backlog_keeps_each_key_once_per_file_and_bounds_disorder(tmp_path):
    emp, act = tmp_path / "e", tmp_path / "a"
    emp.mkdir()
    act.mkdir()
    envelopes.write_backlog(1, str(emp), str(act), files=3, emp_per_file=300, act_per_file=500)
    for f in sorted(emp.iterdir()):
        keys = [json.loads(p["after"] or p["before"])["id"]
                for p in (json.loads(x)["payload"] for x in f.read_text().split("\n") if x)]
        assert len(keys) == len(set(keys))
    lag = []
    for p in envelopes.read_envelopes(str(act)):
        row = json.loads(p["after"] or p["before"])
        event = dt.datetime.strptime(row["activity_timestamp"], "%Y-%m-%d %H:%M:%S")
        event_ms = int(event.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        lag.append((p["ts_ms"] - event_ms) / 1000)
    assert 0 <= min(lag) and max(lag) < envelopes.MAX_DISORDER_S
    late = sum(x > 0 for x in lag) / len(lag)
    assert 0.05 < late < 0.15


def test_percentile_rule_keeps_ten_samples_beyond():
    assert stats.tail_percentile(10_000) == 99.9
    assert stats.tail_percentile(1_000) == 99.0
    assert stats.tail_percentile(999) == 95.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(19) == 50.0
    for n in (20, 40, 100, 200, 999, 1_000, 5_000, 10_000):
        pct = stats.tail_percentile(n)
        assert n * (1000 - round(pct * 10)) >= 10_000
        higher = [p for p in stats.TAIL_PERCENTILES if p > pct]
        assert all(n * (1000 - round(p * 10)) < 10_000 for p in higher)


def test_latency_summary_on_known_sample():
    s = stats.latency_summary([float(i) for i in range(1, 1001)])
    assert s["samples"] == 1000 and s["tail_pct"] == 99.0
    assert s["p50"] == 500.5
    assert abs(s["tail"] - 990.01) < 1e-9


def _hourly(window, emp, count, total):
    return {"window_start": window, "employee_id": emp, "activity_type": "login",
            "activity_count": count, "total_duration": total}


def test_final_state_check_flags_injected_mismatch():
    key = ("window_start", "employee_id", "activity_type")
    fields = ("activity_count", "total_duration")
    # update mode appends a row per batch that touched the group
    streamed = [_hourly("10:00", 1, 1, 20), _hourly("10:00", 1, 3, 70), _hourly("11:00", 2, 2, 5)]
    batch = [_hourly("10:00", 1, 3, 70), _hourly("11:00", 2, 2, 5)]
    final = stats.final_state(streamed, key)
    want = stats.final_state(batch, key)
    assert stats.state_mismatches(final, want, fields) == []

    injected = [dict(r) for r in streamed]
    injected[1]["total_duration"] = 71
    bad = stats.state_mismatches(stats.final_state(injected, key), want, fields)
    assert bad == ["('10:00', 1, 'login').total_duration: 71 != 70"]

    dropped = stats.final_state(streamed[:2], key)
    assert stats.state_mismatches(dropped, want, fields) == ["missing ('11:00', 2, 'login')"]


def test_latency_mapping_on_synthetic_progress():
    # (trigger start, trigger duration) of three micro-batches
    progress = [(1_000, 500), (1_600, 400), (2_100, 300)]
    rows = [
        (900, 1_010),   # batch 1, ends 1500
        (1_400, 1_650),  # batch 2, ends 2000
        (1_400, 1_650),
        (2_000, 2_100),  # batch 3 starts exactly at its timestamp, ends 2400
        (500, 900),      # before any batch: unmapped
        (2_000, 2_450),  # after batch 3 ended: unmapped
    ]
    lat, unmapped = stats.event_to_sink_latencies(rows, progress)
    assert lat == [0.6, 0.6, 0.6, 0.4]
    assert unmapped == 2


def test_backlog_counts_published_but_unread_rows():
    published = [{"published_ms": t, "rows": 10} for t in (0, 100, 200, 300)]
    batches = [
        {"start_ms": 50, "numInputRows": 10},   # 10 available, 10 read
        {"start_ms": 350, "numInputRows": 30},  # 40 available, 30 unread
    ]
    assert stats.backlog_max_rows(published, batches, "rows") == 30


def test_catalog_tables_follow_the_seed(tmp_path):
    counts = catalog.write_tables(str(tmp_path / "one"), 5)
    catalog.write_tables(str(tmp_path / "two"), 5)
    catalog.write_tables(str(tmp_path / "other"), 6)
    for name in counts:
        one = (tmp_path / "one" / f"{name}.parquet").read_bytes()
        assert one == (tmp_path / "two" / f"{name}.parquet").read_bytes()
    assert (tmp_path / "one" / "lineitem.parquet").read_bytes() != (
        tmp_path / "other" / "lineitem.parquet"
    ).read_bytes()


def test_fingerprint_ignores_row_and_column_order_and_flags_a_change():
    rows = [(1, 0.123456789, "a"), (2, None, "b")]
    base = catalog.fingerprint(["id", "x", "s"], rows)
    assert base[0] == 2
    reordered = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert catalog.fingerprint(["s", "id", "x"], reordered) == base
    assert catalog.fingerprint(["id", "x", "s"], [(1, 0.1234568, "a"), rows[1]]) == base
    assert catalog.fingerprint(["id", "x", "s"], [(1, 0.1235, "a"), rows[1]]) != base
    assert catalog.fingerprint(["id", "x", "s"], rows[:1])[0] == 1


def test_shared_leg_changes_count_publishes_and_hits():
    before = {"a": 10, "b": 20}
    after = {"a": 10, "b": 25, "c": 30}
    assert catalog.leg_changes(before, after) == (1, 1)
    assert catalog.leg_changes({}, {}) == (0, 0)


def test_event_log_fold_splits_by_window(tmp_path):
    def job(jid, t, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages}

    def task(stage, run_ms, py_ms=0):
        accs = [{"Name": "time to run Python workers", "Update": str(py_ms)}] if py_ms else []
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": accs},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6}}

    log = tmp_path / "app"
    log.mkdir()
    events = [job(0, 1_000, [0]), task(0, 400), job(1, 5_000, [1, 2]), task(1, 200, py_ms=150),
              task(2, 100), job(2, 9_000, [3]), task(3, 999)]
    (log / "events_1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (log / ".events_1.crc").write_text("crc")
    fold = tracing.fold_event_log(str(tmp_path), {"a": [(0, 2_000)], "b": [(4_000, 6_000)]}, cores=1)
    assert fold["a"]["jobs"] == 1 and fold["a"]["tasks"] == 1
    assert fold["b"]["jobs"] == 1 and fold["b"]["tasks"] == 2
    assert math.isclose(fold["b"]["executor_run_s"], 0.3)
    assert math.isclose(fold["b"]["python_worker_s"], 0.15)
    assert math.isclose(fold["a"]["task_slot_util"], 0.2)


def test_one_mix_in_every_file():
    for rows in (envelopes.DRAIN_ROWS_PER_FILE, envelopes.WARM_UP_ROWS_PER_FILE,
                 envelopes.STEADY_ROWS_PER_FILE):
        emp, act = envelopes.file_mix(rows)
        assert emp + act == rows and act == 15 * emp
