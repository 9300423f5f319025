"""Exit codes and flagging rules of ``tools/bench_diff.py`` (pure
Python, no Spark): 0 = no regressions, 1 = regressions, 3 = usage; a
row is flagged only when it is slower by more than the threshold ratio
AND by more than 0.3 s."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parent.parent / "tools" / "bench_diff.py"
_spec = importlib.util.spec_from_file_location("bench_diff", _PATH)
bench_diff = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_diff)


def _artifacts(tmp_path, old_q: dict, new_q: dict) -> list[str]:
    paths = []
    for name, queries in (("old.json", old_q), ("new.json", new_q)):
        p = tmp_path / name
        p.write_text(
            json.dumps({"value": sum(queries.values()), "queries": queries})
        )
        paths.append(str(p))
    return paths


def test_clean_diff_exits_zero(tmp_path, capsys):
    args = _artifacts(tmp_path, {"a": 1.0, "b": 2.0}, {"a": 1.1, "b": 1.9})
    assert bench_diff.main(args) == 0
    assert "no regressions above threshold" in capsys.readouterr().out


def test_slower_row_above_floor_exits_one(tmp_path, capsys):
    args = _artifacts(tmp_path, {"a": 1.0, "b": 2.0}, {"a": 2.0, "b": 2.0})
    assert bench_diff.main(args) == 1
    out = capsys.readouterr().out
    assert "REGRESSION a: 1.00s -> 2.00s (2.00x)" in out
    assert "REGRESSION b" not in out


def test_doubling_under_absolute_floor_is_not_flagged(tmp_path, capsys):
    # 0.2 s -> 0.4 s is 2x but only 0.2 s slower: sub-floor jitter
    args = _artifacts(tmp_path, {"a": 0.2}, {"a": 0.4})
    assert bench_diff.main(args) == 0
    assert "REGRESSION" not in capsys.readouterr().out


def test_threshold_argument_is_honoured(tmp_path, capsys):
    # 1.0 s -> 1.8 s: flagged at the default 1.5x, not at 2x
    args = _artifacts(tmp_path, {"a": 1.0}, {"a": 1.8})
    assert bench_diff.main(args) == 1
    assert bench_diff.main([*args, "2.0"]) == 0
    capsys.readouterr()


@pytest.mark.parametrize("argv", [[], ["only-one.json"]])
def test_usage_exits_three(argv, capsys):
    assert bench_diff.main(argv) == 3
    assert "Usage:" in capsys.readouterr().out
