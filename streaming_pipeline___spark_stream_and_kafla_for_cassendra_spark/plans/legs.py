"""Shared legs: expensive intermediates computed once and read by many
catalog queries (the n-gram pair graph, the ALS factors, the BPE merge
table, the reco legs) — compute once, derive many reports.

``leg(spark, input_df, build_fn)`` serves ``build_fn(input_df)`` from a
parquet entry under :func:`root`, keyed by everything the result can
depend on, none of it listed by hand:

* the canonicalized analyzed plan of ``input_df`` and its schema: the
  prep expressions and their literals, with expression ids normalized,
  so the text is the same in every JVM (``semanticHash`` is not);
* ``(path, mtime_ns, size)`` of every file behind the plan's file-scan
  leaves, read from the leaves themselves so a ``.cache()``d input
  still reports its files;
* ``build_fn``'s module and qualified name;
* one digest of every ``.py`` source in the package.

An edit to the package or a rewrite of an input therefore misses to a
fresh build. ``build_fn`` may not close over local variables: a runtime
value it depends on must reach it through ``input_df``'s plan, where
the key sees it. A frame with any leaf that is not a scan of statable
local files (Range, local data, RDDs, checkpoints, object stores) has
nothing that identifies its data and is never cached.

Publish follows the lake discipline: the parquet is written to a unique
temp dir inside the entry, renamed to ``data/`` (a lost race to a
concurrent writer of the same key serves the winner's copy; any other
failure re-raises), and the ``_committed`` marker is written last, so a
crashed writer never leaves a readable partial entry.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def root() -> str:
    """Per-user, 0700 cache root. A predictable path in the world-
    writable tempdir would let another user squat the directory or
    pre-publish an entry whose marker a lookup trusts; the uid suffix,
    the forced mode and the ownership check close both."""
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_shared_legs-{os.getuid()}"
    )
    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.stat(path)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"shared-leg cache root {path} is owned by uid {st.st_uid}, "
            "not the current user — refusing to trust its entries"
        )
    if st.st_mode & 0o077:
        os.chmod(path, 0o700)
    return path


def clear() -> None:
    """Drop every entry (bench cold runs; tests). A concurrent sweep in
    another process may hold a lazy frame over an entry; it sets
    ``SPARK_GRAFT_LEG_CACHE_NO_CLEAR=1`` to make clears a no-op for
    itself."""
    if os.environ.get("SPARK_GRAFT_LEG_CACHE_NO_CLEAR") == "1":
        return
    shutil.rmtree(root(), ignore_errors=True)


@functools.cache
def _source_digest() -> str:
    h = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(_PKG_DIR):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, _PKG_DIR).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _input_files(jplan) -> list[tuple[str, int, int]] | None:
    """Sorted (path, mtime_ns, size) of the files behind every leaf of
    the analyzed plan, or ``None`` when a leaf is not a file scan or a
    file cannot be statted."""
    leaves = jplan.collectLeaves()
    files = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        uris = list(rel.inputFiles())
        if not uris:
            return None
        for uri in uris:
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return None
            path = unquote(parsed.path)
            try:
                st = os.stat(path)
            except OSError:
                return None
            files.append((path, st.st_mtime_ns, st.st_size))
    return sorted(files)


def key(
    input_df: DataFrame, build_fn: Callable[[DataFrame], DataFrame]
) -> str | None:
    """The entry key of ``build_fn(input_df)``, or ``None`` when the
    input is uncacheable."""
    jplan = input_df._jdf.queryExecution().analyzed()
    files = _input_files(jplan)
    if files is None:
        return None
    # treeString with no field limit: toString truncates wide nodes
    # ("... 15 more fields") and would hide an edited expression.
    plan = jplan.canonicalized().treeString(
        True, False, 2**31 - 1, False, False
    )
    h = hashlib.md5()
    for part in (
        plan,
        input_df.schema.json(),
        repr(files),
        f"{build_fn.__module__}.{build_fn.__qualname__}",
        _source_digest(),
    ):
        h.update(part.encode())
        h.update(b"\0")
    return h.hexdigest()


def _prune(base: str, keep: int = 64) -> None:
    """Bound ``base`` to its ``keep`` most recently used entries (a hit
    bumps the entry's mtime, so eviction is LRU)."""
    try:
        entries = [
            os.path.join(base, e)
            for e in os.listdir(base)
            if os.path.isdir(os.path.join(base, e))
        ]
    except OSError:  # pragma: no cover - root vanished mid-run
        return
    entries.sort(key=os.path.getmtime)
    for p in entries[: max(0, len(entries) - keep)]:
        shutil.rmtree(p, ignore_errors=True)


def leg(
    spark: SparkSession,
    input_df: DataFrame,
    build_fn: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``build_fn(input_df)``, served from the cache when an entry with
    the same key is committed; ``build_fn`` runs only on a miss."""
    if build_fn.__closure__:
        raise TypeError(
            f"{build_fn.__qualname__} closes over local variables the "
            "cache key cannot see; pass them through the input frame"
        )
    k = key(input_df, build_fn)
    if k is None:
        return build_fn(input_df)
    base = root()
    entry = os.path.join(base, k)
    data = os.path.join(entry, "data")
    marker = os.path.join(entry, "_committed")
    if os.path.exists(marker):
        try:  # best effort: a read-only entry must still serve
            os.utime(entry)
        except OSError:
            pass
        return spark.read.parquet(data)
    df = build_fn(input_df)
    os.makedirs(entry, exist_ok=True)
    tmp = os.path.join(entry, f"data-tmp-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, data)
    except OSError:
        # Benign only when a concurrent writer already published data/
        # (same key, same result); otherwise a marker would advertise
        # an entry whose reads fail forever.
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(data):
            raise
    with open(marker, "w", encoding="utf-8"):
        pass
    _prune(base)
    return spark.read.parquet(data)
