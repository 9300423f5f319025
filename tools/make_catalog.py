"""Generate CATALOG.md — the machine-derived registry index.

One row per registry query: name, family module, check kind (DuckDB
oracle vs rows-only), tags, and the first sentence of its description. Complements
the hand-written COVERAGE.md (which maps SURVEY §2 items to
implementations); this file is regenerated, never edited.

Usage: python tools/make_catalog.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (  # noqa: E402
    REGISTRY,
)


def main() -> None:
    lines = [
        "# CATALOG — generated registry index",
        "",
        "Regenerate with `python tools/make_catalog.py`. ✅O = DuckDB-oracle",
        "hash-checked; ✅R = rows-only (approximation / engine-internal",
        "state / streaming arrival order — the description says which).",
        "",
    ]
    n_oracle = sum(1 for q in REGISTRY if q.oracle is not None)
    lines.append(
        f"{len(REGISTRY)} queries, {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only."
    )
    lines.append("")
    tag_counts = Counter(t for q in REGISTRY for t in q.tags)
    lines.append(
        "Tag census: "
        + ", ".join(f"{t}×{c}" for t, c in sorted(tag_counts.items()))
    )
    lines.append("")
    lines.append("| query | family | check | tags | what it is |")
    lines.append("|---|---|---|---|---|")
    for q in REGISTRY:
        family = q.builder.__module__.split(".plans.families.")[-1]
        check = "✅O" if q.oracle is not None else "✅R"
        desc = " ".join(q.description.split())
        first = desc.split(". ")[0]
        if len(first) > 220:
            first = first[:217] + "…"
        lines.append(
            f"| `{q.name}` | {family} | {check} | {', '.join(q.tags)} | {first} |"
        )
    with open(os.path.join(REPO, "CATALOG.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote CATALOG.md: {len(REGISTRY)} queries, {n_oracle} oracled")


if __name__ == "__main__":
    main()
