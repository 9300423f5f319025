"""The query catalog's identity and the plans package's layout.

Pure Python: imports the registry, needs no SparkSession.
"""

from __future__ import annotations

import builtins
import hashlib
import json
import symtable
from pathlib import Path

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
    REGISTRY,
    resolve_oracle,
)

PLANS = (
    Path(__file__).resolve().parent.parent
    / "streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark"
    / "plans"
)

# sha256 of the sorted (name, resolved oracle SQL, tags) list: any
# change to a query's name, oracle or tags moves it
CATALOG_DIGEST = "27bfbae0328804686d6a7bc64da370e5fdafc5d08a0223e7bbe8aa3d795ff615"

_MODULE_NAMES = {"__name__", "__file__", "__doc__", "__package__",
                 "__spec__", "__loader__", "__path__", "__builtins__"}


def test_catalog_digest_is_pinned():
    rows = sorted((q.name, resolve_oracle(q), list(q.tags)) for q in REGISTRY)
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    assert digest == CATALOG_DIGEST


def test_no_numbered_registry_shards_and_unique_names():
    assert sorted(p.name for p in PLANS.glob("registry[0-9]*.py")) == []
    names = [q.name for q in REGISTRY]
    assert len(names) == len(set(names)) == 415


def _free_globals(path: Path) -> set[str]:
    """Names a module's code reads as globals that neither the module
    nor builtins bind."""
    top = symtable.symtable(path.read_text(), str(path), "exec")
    bound = {
        s.get_name()
        for s in top.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    }
    known = bound | set(dir(builtins)) | _MODULE_NAMES
    free = {
        s.get_name() for s in top.get_symbols() if s.is_referenced()
    } - known

    def walk(tab):
        for s in tab.get_symbols():
            if s.is_global() and s.is_referenced() and s.get_name() not in known:
                free.add(s.get_name())
        for child in tab.get_children():
            walk(child)

    for child in top.get_children():
        walk(child)
    return free


def test_every_global_name_in_plans_is_bound():
    """A moved builder whose helper stayed behind only fails when the
    builder runs; catch it statically, for branches no fixture reaches."""
    free = {
        str(p.relative_to(PLANS)): sorted(_free_globals(p))
        for p in sorted(PLANS.rglob("*.py"))
    }
    assert {k: v for k, v in free.items() if v} == {}
