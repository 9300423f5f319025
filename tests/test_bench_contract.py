"""Pins ``bench.py``'s output contract: the last stdout line is a
compact JSON summary with a fixed key set (callers parse it from a
tail capture), and the full artifact carries the cold/warm split for
shared-leg cache readers."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent

SUMMARY_KEYS = {
    "metric",
    "value",
    "unit",
    "sf",
    "n_queries",
    "n_errors",
    "runs_per_query",
    "aggregation",
    "queries",
    "queries_file",
    "sentinel_first_s",
    "sentinel_last_s",
}


def _keys(obj) -> set[str]:
    """Every dict key at any depth."""
    if isinstance(obj, dict):
        return set(obj).union(*(_keys(v) for v in obj.values()))
    if isinstance(obj, list):
        return set().union(*(_keys(v) for v in obj))
    return set()


def test_bench_summary_line_and_artifact(tmp_path):
    out = tmp_path / "bench.json"
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_SMOKE,
        # one plain query, one shared-leg cache reader
        "SPARK_GRAFT_BENCH_ONLY": "q01_pricing_summary,ngram_jaccard_pairs",
        "SPARK_GRAFT_BENCH_RUNS": "2",
        "SPARK_GRAFT_BENCH_OUT": str(out),
        # a private cache root, so the cold run's clear touches no
        # other process's shared legs
        "TMPDIR": str(tmp),
    }
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(summary) == SUMMARY_KEYS
    assert summary["n_errors"] == 0
    assert summary["n_queries"] == 2
    assert summary["runs_per_query"] == 2
    assert summary["queries_file"] == out.name

    full = json.loads(out.read_text())
    assert set(full["queries"]) == {"q01_pricing_summary", "ngram_jaccard_pairs"}
    assert set(full["cache_backed"]) == {"ngram_jaccard_pairs"}
    assert set(full["cache_backed"]["ngram_jaccard_pairs"]) == {"cold", "warm"}
    assert "errors" not in full
    assert not [k for k in _keys(summary) | _keys(full) if "correct" in k]
