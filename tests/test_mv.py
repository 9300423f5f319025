"""Materialized-summary rewrite layer: soundness (answers match the
fact table), refusal (unanswerable requests fall back), and the
acceleration property (answered plans read summary files only)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.mv import (
    AggRequest,
    SummaryTable,
    answer_or_fallback,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.tables import (
        load_table,
    )

    return load_table(spark, SF, "events")


@pytest.fixture(scope="module")
def summary(spark, events, tmp_path_factory):
    s = SummaryTable(
        path=str(tmp_path_factory.mktemp("mv") / "events_hourly"),
        time_col="ts",
        value_col="value",
        keys=("event_type",),
        grain="hour",
    )
    s.build(events)
    return s


def _direct(events, grain, keys, measures):
    agg = {
        "n_rows": F.count("*").alias("n_rows"),
        "sum_value": F.sum("value").alias("sum_value"),
        "min_value": F.min("value").alias("min_value"),
        "max_value": F.max("value").alias("max_value"),
        "avg_value": F.avg("value").alias("avg_value"),
    }
    return events.groupBy(
        F.date_trunc(grain, F.col("ts")).alias("bucket"), *keys
    ).agg(*[agg[m] for m in measures])


def _as_map(df, keys, measures):
    out = {}
    for r in df.collect():
        k = (r["bucket"], *[r[c] for c in keys])
        out[k] = tuple(
            round(r[m], 6) if isinstance(r[m], float) else r[m] for m in measures
        )
    return out


@pytest.mark.parametrize(
    "grain,keys",
    [("day", ("event_type",)), ("day", ()), ("week", ("event_type",)), ("month", ())],
)
def test_rewrite_matches_fact_table(spark, events, summary, grain, keys):
    measures = ("n_rows", "sum_value", "min_value", "max_value", "avg_value")
    req = AggRequest(grain=grain, keys=keys, measures=measures)
    got = summary.try_rewrite(spark, req)
    assert got is not None
    want = _direct(events, grain, keys, measures)
    assert _as_map(got, keys, measures) == _as_map(want, keys, measures)


def test_rewrite_reads_summary_files_only(spark, summary):
    req = AggRequest(grain="day", keys=("event_type",))
    got = summary.try_rewrite(spark, req)
    files = got.inputFiles()
    assert files and all(summary.path in f for f in files)


def test_refusal_finer_grain_and_unknown_key(spark, summary):
    assert not summary.can_answer(AggRequest(grain="minute"))
    assert summary.try_rewrite(spark, AggRequest(grain="minute")) is None
    assert not summary.can_answer(AggRequest(grain="day", keys=("user_id",)))
    assert summary.try_rewrite(spark, AggRequest(grain="day", keys=("user_id",))) is None
    assert not summary.can_answer(
        AggRequest(grain="day", measures=("n_rows", "p99_value"))
    )


def test_fallback_computes_from_base_with_same_schema(spark, events, summary):
    req = AggRequest(grain="day", keys=("user_id",), measures=("n_rows",))
    out = answer_or_fallback(spark, summary, events, req)
    # unanswerable → computed from base, same output contract
    assert set(out.columns) == {"bucket", "user_id", "n_rows"}
    assert out.agg(F.sum("n_rows")).first()[0] == events.count()


def test_answered_request_same_schema_as_fallback(spark, events, summary):
    req = AggRequest(grain="day", keys=("event_type",), measures=("n_rows", "avg_value"))
    hit = summary.try_rewrite(spark, req)
    miss = answer_or_fallback(
        spark,
        SummaryTable(path=summary.path, keys=(), grain="hour"),
        events,
        req,
    )
    assert hit.columns == miss.columns


# --- shared-leg cache (plans/legs.py) ------------------------------------

_BUILDS: list[str] = []


def _count_by_v(df):
    _BUILDS.append("count_by_v")
    return df.groupBy("v").agg(F.count("*").alias("n"), F.sum("id").alias("s"))


def _max_by_v(df):
    _BUILDS.append("max_by_v")
    return df.groupBy("v").agg(F.max("id").alias("m"))


def _ratings(spark, sf_dir, prep):
    """The ALS ratings frame of ``als_recommend_parts``; ``prep`` maps
    the summed quantity to the rating."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        _t,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(prep(F.sum("l_quantity")).alias("rating"))
    )


@pytest.fixture
def leg_root(tmp_path, monkeypatch):
    """A private cache root under ``tmp_path`` and a fresh build log."""
    import tempfile

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import (
        legs,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    _BUILDS.clear()
    return legs.root()


def _entries(root):
    import os

    return sorted(
        e for e in os.listdir(root)
        if os.path.exists(os.path.join(root, e, "_committed"))
    )


def _src(spark, tmp_path, n=1000, name="src"):
    path = str(tmp_path / name)
    spark.range(n).withColumn("v", F.col("id") % 7).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_result_cache_hits_and_invalidates(spark, tmp_path, leg_root):
    """A second leg over an unchanged input is served from the cache
    directory; rewriting the input (new mtime/size) misses and
    rebuilds."""
    import time

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        leg,
    )

    src = _src(spark, tmp_path)
    r1 = leg(spark, spark.read.parquet(src), _count_by_v)
    r2 = leg(spark, spark.read.parquet(src), _count_by_v)
    assert _BUILDS == ["count_by_v"]
    assert all(leg_root in f for f in r2.inputFiles())
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))
    time.sleep(0.05)
    _src(spark, tmp_path, n=1100)
    r3 = leg(spark, spark.read.parquet(src), _count_by_v)
    assert _BUILDS == ["count_by_v"] * 2
    assert sum(r.n for r in r3.collect()) == 1100


def test_result_cache_keyed_materialization(spark, tmp_path, leg_root):
    """The build must not run on a hit: the miss path may carry an
    expensive exec-at-build pre-flight."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        leg,
    )

    src = _src(spark, tmp_path)
    for _ in range(3):
        leg(spark, spark.read.parquet(src), _count_by_v).collect()
    assert _BUILDS == ["count_by_v"]
    assert len(_entries(leg_root)) == 1


def test_leg_two_build_fns_over_one_input_are_two_entries(
    spark, tmp_path, leg_root
):
    """The build function is part of the key: two builds over one
    input (reco recs and actual over the same split) never share an
    entry."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        leg,
    )

    df = spark.read.parquet(_src(spark, tmp_path))
    counts = leg(spark, df, _count_by_v)
    maxes = leg(spark, df, _max_by_v)
    assert len(_entries(leg_root)) == 2
    assert counts.columns == ["v", "n", "s"] and maxes.columns == ["v", "m"]
    leg(spark, df, _count_by_v)
    leg(spark, df, _max_by_v)
    assert _BUILDS == ["count_by_v", "max_by_v"]


def test_leg_rejects_closures(spark, tmp_path, leg_root):
    """A closed-over local is invisible to the key, so it is refused
    rather than served stale."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        leg,
    )

    threshold = 3

    def build(df):
        return df.filter(F.col("v") > threshold)

    with pytest.raises(TypeError, match="closes over"):
        leg(spark, spark.read.parquet(_src(spark, tmp_path)), build)


def test_materialized_leg_never_caches_scanless_frames(spark, leg_root):
    """A frame with no file-scan leaf (here Range, cached) has nothing
    that identifies its data: the leg must build uncached rather than
    mint a dataset-independent key (the r9 ALS-leg bug: sf0.1 factors
    served to an sf0.001 run)."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        key,
        leg,
    )

    cached = spark.range(10).withColumn("v", F.col("id") % 2).cache()
    assert key(cached, _count_by_v) is None
    for _ in range(2):
        leg(spark, cached, _count_by_v)
    assert _BUILDS == ["count_by_v"] * 2
    assert _entries(leg_root) == []
    cached.unpersist()


def test_leg_caches_frames_derived_from_cached_plans(
    spark, tmp_path, leg_root
):
    """A frame derived from a .cache()d, materialized plan reports no
    inputFiles(), yet its plan leaves still name the files: it is
    cached, and keyed by those files."""
    import os

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        key,
        leg,
    )

    src = _src(spark, tmp_path)
    base = spark.read.parquet(src).withColumn("id", F.col("id") * 2).cache()
    base.count()
    derived = base.filter(F.col("v") > 0)
    assert derived.inputFiles() == []
    k1 = key(derived, _count_by_v)
    assert k1 is not None
    leg(spark, derived, _count_by_v).collect()
    leg(spark, derived, _count_by_v).collect()
    assert _BUILDS == ["count_by_v"] and _entries(leg_root) == [k1]
    part = next(
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    )
    os.utime(part, ns=(1, 1))
    assert key(derived, _count_by_v) != k1
    base.unpersist()


def test_als_leg_misses_on_changed_ratings_prep(spark, leg_root):
    """An edit to the ratings prep over the same input files must
    retrain (the stale-factors bug of a hand-listed key), while the
    unchanged prep, built again as a new frame, is a hit."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import (
        legs,
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry2 import (
        _als_factors_leg,
        _train_als_factors,
    )

    sf = SF
    raw = _ratings(spark, sf, F.log1p).cache()
    user_f, _ = _als_factors_leg(spark, raw)
    user_f.count()
    again = _ratings(spark, sf, F.log1p)
    assert legs.key(again, _train_als_factors) == legs.key(
        raw, _train_als_factors
    )
    _als_factors_leg(spark, again)[0].count()
    assert len(_entries(leg_root)) == 1
    edited = _ratings(spark, sf, lambda q: F.log1p(q) - F.lit(1.0))
    assert legs.key(edited, _train_als_factors) != legs.key(
        raw, _train_als_factors
    )
    edited_f, _ = _als_factors_leg(spark, edited)
    assert edited_f.count() == user_f.count()
    assert len(_entries(leg_root)) == 2
    raw.unpersist()


def test_leg_key_is_stable_across_jvms(spark):
    """A fresh Python process with its own JVM derives the same key for
    the same frame and files (Spark's semanticHash differs per JVM, so
    a key built on it could never hit across processes)."""
    import inspect
    import json
    import os
    import subprocess
    import sys
    import textwrap

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import (
        legs,
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry2 import (
        _train_als_factors,
    )

    sf = SF
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import json, sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import functions as F
        from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import get_session
        from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import legs
        from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry2 import _train_als_factors
        spark = get_session("leg-key-child", master="local[1]", shuffle_partitions=2)
        """
    ).format(repo=repo)
    script += inspect.getsource(_ratings) + textwrap.dedent(
        """
        print("KEY " + json.dumps(legs.key(
            _ratings(spark, {sf!r}, F.log1p), _train_als_factors)))
        spark.stop()
        """
    ).format(sf=sf)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    child = json.loads(
        next(ln for ln in out.splitlines() if ln.startswith("KEY "))[4:]
    )
    parent = legs.key(_ratings(spark, sf, F.log1p), _train_als_factors)
    assert parent is not None and child == parent


def test_als_factor_leg_keys_by_dataset(spark):
    """The ALS factor leg must produce dataset-correct factors when
    two SFs run back-to-back in one process (regression for the
    scan-less fingerprint collision)."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        REGISTRY,
        clear_shared_leg_cache,
    )

    by_name = {q.name: q for q in REGISTRY}
    clear_shared_leg_cache()
    n_small = by_name["als_recommend_parts"].builder(
        spark, "/root/testdata/sf0.001"
    ).count()
    n_small2 = by_name["als_recommend_parts"].builder(
        spark, "/root/testdata/sf0.001"
    ).count()
    assert n_small == n_small2 == 3  # sf0.001 cohort: 1 user x top-3


def test_ngram_pair_leg_matches_live_miner(spark):
    """The materialized shared pair leg must be row-identical to the
    live miner it caches (same params), and a second call must serve
    from the cache directory."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        _NGRAM_LEG_PARAMS,
        _ngram_pair_leg,
        _t,
    )

    sf_dir = "/root/testdata/sf0.001"
    leg = _ngram_pair_leg(spark, sf_dir)
    live = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", **_NGRAM_LEG_PARAMS
    )
    leg_rows = sorted((r.id_a, r.id_b) for r in leg.collect())
    live_rows = sorted((r.id_a, r.id_b) for r in live.collect())
    assert leg_rows == live_rows and len(leg_rows) > 0
    again = _ngram_pair_leg(spark, sf_dir)
    assert all("spark_graft_shared_legs" in f for f in again.inputFiles())


def test_result_cache_bypasses_unstattable_inputs(
    spark, tmp_path, leg_root, monkeypatch
):
    """Inputs the driver cannot stat must be UNCACHEABLE, not hashed to
    a stable sentinel (which would serve stale results after the input
    changed)."""
    import os

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        key,
        leg,
    )

    df = spark.read.parquet(_src(spark, tmp_path, name="src2"))
    real_stat = os.stat

    def flaky_stat(p, *a, **kw):
        if "src2" in str(p):
            raise OSError("transient stat failure")
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(os, "stat", flaky_stat)
    assert key(df, _count_by_v) is None
    leg(spark, df, _count_by_v)
    leg(spark, df, _count_by_v)
    monkeypatch.undo()
    assert _BUILDS == ["count_by_v"] * 2  # never a hit, never published
    assert _entries(leg_root) == []


def test_streaming_builder_pins_and_restores_shuffle_conf(spark):
    """Streaming-tagged builders run under the pinned state-partition
    count and MUST restore the session conf afterwards — a leak would
    silently re-plan every later batch query at 8 partitions."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        REGISTRY,
        _stream_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert str(_stream_state_partitions()) != before, (
        "test needs the pin to differ from the session default"
    )
    q = next(x for x in REGISTRY if x.name == "watermark_delay_audit_events")
    out = q.builder(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    assert spark.conf.get(key) == before

def test_materialize_marker_not_written_on_failed_publish(
    spark, tmp_path, leg_root, monkeypatch
):
    """A non-race rename failure (permissions, EXDEV) must RAISE and
    leave no ``_committed`` marker — a marker without data would
    poison every later lookup for that key."""
    import os

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        key,
        leg,
    )

    df = spark.read.parquet(_src(spark, tmp_path))
    real_rename = os.rename

    def broken_rename(src, dst, *a, **kw):
        if "data-tmp-" in str(src):
            raise PermissionError("simulated EXDEV/permission failure")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", broken_rename)
    with pytest.raises(PermissionError):
        leg(spark, df, _count_by_v)
    monkeypatch.setattr(os, "rename", real_rename)
    k = key(df, _count_by_v)
    assert not os.path.exists(os.path.join(leg_root, k, "_committed"))
    # the entry stays usable: a retry with working rename publishes
    assert leg(spark, df, _count_by_v).count() == 7
    assert _BUILDS == ["count_by_v"] * 2 and _entries(leg_root) == [k]


def test_shared_leg_cache_root_is_private_and_owned(tmp_path, monkeypatch):
    """The shared-leg root must be per-user (uid suffix), mode 0700,
    and ownership-verified — not a predictable world-writable tempdir
    path another user can squat."""
    import os
    import tempfile

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import (
        legs,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = legs.root()
    assert root.endswith(f"spark_graft_shared_legs-{os.getuid()}")
    assert (os.stat(root).st_mode & 0o777) == 0o700
    # a loosened mode is re-tightened on the next call
    os.chmod(root, 0o755)
    assert (os.stat(legs.root()).st_mode & 0o777) == 0o700
    # pruning keeps the most recently used entries
    for i in range(6):
        d = os.path.join(root, f"e{i}")
        os.makedirs(d)
        os.utime(d, (i + 1, i + 1))
    legs._prune(root, keep=4)
    left = sorted(os.listdir(root))
    assert left == ["e2", "e3", "e4", "e5"]


def test_result_cache_lookup_bumps_entry_mtime(spark, tmp_path, leg_root):
    """LRU pruning orders by entry-dir mtime; a hit must bump it so a
    HOT entry (read every sweep) is not evicted before an unused newer
    one."""
    import os

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.legs import (
        key,
        leg,
    )

    df = spark.read.parquet(_src(spark, tmp_path))
    leg(spark, df, _count_by_v)
    entry = os.path.join(leg_root, key(df, _count_by_v))
    os.utime(entry, (1, 1))  # pretend it was published long ago
    assert os.path.getmtime(entry) == 1
    leg(spark, df, _count_by_v)
    assert _BUILDS == ["count_by_v"]  # the second call was a hit
    assert os.path.getmtime(entry) > 1  # and refreshed LRU order


def test_clear_shared_leg_cache_respects_no_clear_flag(
    tmp_path, monkeypatch
):
    """A concurrent sweep reading a leg must be able to opt out of
    another caller's rmtree — SPARK_GRAFT_LEG_CACHE_NO_CLEAR=1 turns
    clear_shared_leg_cache into a no-op for that process."""
    import os
    import tempfile

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans import (
        legs,
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        clear_shared_leg_cache,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = legs.root()
    marker = os.path.join(root, "entry", "_committed")
    os.makedirs(os.path.dirname(marker))
    open(marker, "w").close()
    monkeypatch.setenv("SPARK_GRAFT_LEG_CACHE_NO_CLEAR", "1")
    clear_shared_leg_cache()
    assert os.path.exists(marker)  # flag held: nothing removed
    monkeypatch.delenv("SPARK_GRAFT_LEG_CACHE_NO_CLEAR")
    clear_shared_leg_cache()
    assert not os.path.exists(root)  # default behavior unchanged


def test_stream_state_partition_sizing_rule(tmp_path, monkeypatch):
    """VERDICT r6 #8: the state-partition pin derives from estimated
    state volume (fraction of the largest streamed fact table) rather
    than a hand table — reproducing the measured 8 at fixture scale
    and scaling up past the per-partition state target."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        _stream_state_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    assert _stream_state_partitions() == 8  # no input info -> floor
    # fixture scale: a few MB of state -> the measured r6 optimum
    assert _stream_state_partitions("/root/testdata/sf0.1") == 8
    # 4 GiB input * 0.25 fraction = 1 GiB state / 64 MiB target -> 16
    big = tmp_path / "events.parquet"
    with open(big, "wb") as fh:
        fh.truncate(4 << 30)  # sparse; getsize sees 4 GiB
    assert _stream_state_partitions(str(tmp_path)) == 16
    # production override still wins
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "12")
    assert _stream_state_partitions(str(tmp_path)) == 12


def test_python_stateful_tag_exempts_pin(spark):
    """applyInPandasWithState queries are CPU-bound in Python workers
    and keep full session parallelism; the tag — not a name table —
    is what exempts them."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        REGISTRY,
        _stream_conf,
    )

    tagged = {q.name for q in REGISTRY if "python-stateful" in q.tags}
    assert tagged == {
        "streaming_sessionize_events",
        "streaming_debounce_events",
        "streaming_ewma_users",
        "streaming_anomaly_alerts",
        "streaming_rate_limiter",
        "streaming_window_funnel",
    }
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _stream_conf(spark, "x", None, ("streaming", "python-stateful")):
        assert spark.conf.get(key) == before
    with _stream_conf(spark, "x", None, ("streaming",)):
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == before


def test_mining_plan_observability_through_cache(spark):
    """r7 mine-once: on a leg cache HIT no pre-flight runs — the
    decision record must say so explicitly rather than leaving a
    stale earlier decision visible."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators import (
        dedup as dd,
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
        _ngram_pair_leg,
    )

    sf = "/root/testdata/sf0.001"
    dd.LAST_MINING_PLAN = {"stale-from-previous-query": True}
    _ngram_pair_leg(spark, sf).count()
    assert dd.LAST_MINING_PLAN is not None
    assert "stale-from-previous-query" not in dd.LAST_MINING_PLAN
    _ngram_pair_leg(spark, sf).count()  # second call is a cache hit
    assert dd.LAST_MINING_PLAN["path"] == "served-from-shared-leg-cache"
