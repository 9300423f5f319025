"""Declared-query registry: the engine's enumerable query surface.

Every module under ``plans/families`` registers its builders with
``core._register`` when imported. This module imports all of them,
in sorted module-name order, and exposes the driver accessors.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import families as _families
from .core import REGISTRY, QueryDef, resolve_oracle
from .legs import clear as clear_shared_leg_cache

__all__ = [
    "CACHE_BACKED_QUERIES",
    "REGISTRY",
    "QueryDef",
    "clear_shared_leg_cache",
    "oracle_sql",
    "queries",
    "resolve_oracle",
]

for _mod in sorted(
    pkgutil.walk_packages(_families.__path__, _families.__name__ + "."),
    key=lambda m: m.name,
):
    importlib.import_module(_mod.name)

#: Queries served (fully or for their dominant leg) from the
#: fingerprint-keyed shared-leg cache. Bench runs time these with an
#: explicit cold/warm split (VERDICT r6 #4): per-query numbers for
#: cache readers otherwise measure a parquet read and the round-over-
#: round diff stops being interpretable.
CACHE_BACKED_QUERIES = frozenset(
    {
        "ngram_jaccard_pairs",
        "near_dup_clusters",
        "near_dup_canonical_docs",
        "dedup_keep_best_documents",
        "dedup_survivorship_audit",
        "reco_precision_at_k",
        "reco_mrr_at_k",
        "reco_ndcg_at_k",
        # r9: trainer legs — ALS factor tables (per variant) and the
        # BPE merge table. Cold = train + publish, warm = read +
        # serve; the bench's cold/warm split keeps the true training
        # cost visible.
        "als_recommend_parts",
        "als_rmse_floor",
        "bpe_merges_documents",
        "bpe_token_counts_documents",
        "tokenizer_fertility_by_lang",
    }
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.builder for q in REGISTRY}


def oracle_sql() -> dict[str, str]:
    out = {}
    for q in REGISTRY:
        if q.oracle is None:
            continue
        sql = resolve_oracle(q)
        if sql is not None:
            out[q.name] = sql
    return out
