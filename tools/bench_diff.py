"""Round-over-round bench regression diff.

Compares two bench JSON artifacts (the full per-query payloads that
bench.py writes — BENCH_LOCAL_LATEST.json / BENCH_SLOW_r{N}.json /
BENCH_SF1_r{N}.json) and reports per-query deltas, flagging queries
slower than the ``threshold`` argument (default 1.5×, with a 0.3 s absolute
floor so sub-second jitter doesn't flag).

Usage: python tools/bench_diff.py OLD.json NEW.json [threshold]
Exit codes: 0 = no regressions; 1 = regressions; 3 = usage.

A single pair of sweeps on a shared host can spread widely; compare
alternating paired sweeps before reading a delta as code.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) < 2:
        print(__doc__)
        return 3
    old, new = (json.loads(Path(a).read_text()) for a in args[:2])
    thr = float(args[2]) if len(args) > 2 else 1.5
    oq, nq = old.get("queries", {}), new.get("queries", {})
    common = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    regressions = []
    improvements = []
    for name in common:
        a, b = oq[name], nq[name]
        if b > a * thr and b - a > 0.3:
            regressions.append((name, a, b))
        elif a > b * thr and a - b > 0.3:
            improvements.append((name, a, b))
    print(
        f"old: {len(oq)} queries {old.get('value')}s | "
        f"new: {len(nq)} queries {new.get('value')}s | "
        f"common {len(common)}, +{len(added)}, -{len(removed)}"
    )
    for name, a, b in sorted(regressions, key=lambda r: r[1] - r[2]):
        print(f"REGRESSION {name}: {a:.2f}s -> {b:.2f}s ({b / a:.2f}x)")
    for name, a, b in sorted(improvements, key=lambda r: r[2] - r[1]):
        print(f"improved   {name}: {a:.2f}s -> {b:.2f}s ({b / a:.2f}x)")
    if added:
        print("added:", ", ".join(added))
    if removed:
        print("removed:", ", ".join(removed))
    ocb, ncb = old.get("cache_backed", {}), new.get("cache_backed", {})
    for name in sorted(set(ocb) & set(ncb)):
        a, b = ocb[name], ncb[name]
        print(
            f"cache-backed {name}: cold {a['cold']:.2f}->{b['cold']:.2f}s "
            f"warm {a['warm']:.2f}->{b['warm']:.2f}s"
        )
    if not regressions:
        print("no regressions above threshold")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
