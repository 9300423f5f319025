"""Round-3 batch-2 operators: hard-negative mining, MMR diversity,
survivorship, count-min guarantees, agreement bounds."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
    REGISTRY,
)

BY = {q.name: q for q in REGISTRY}
SF_SMOKE = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF_SMOKE):
    return BY[name].builder(spark, sf).collect()


def _clustered_emb(spark, n_clusters=4, per=8, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 4
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(per):
            v = c + 0.05 * rng.standard_normal(dim)
            rows.append((vid, ci, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )


def test_hard_negatives_exclude_same_label_and_find_nearest_other(spark):
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.similarity import (
        hard_negatives,
    )

    emb = _clustered_emb(spark)
    queries = emb.filter(F.col("vec_id") % 8 == 0)
    got = hard_negatives(emb, queries, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    by_q: dict[int, list] = {}
    for r in got:
        assert labels[r.query_id] != labels[r.neighbor_id]
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for q, lst in by_q.items():
        assert [rk for rk, _ in sorted(lst)] == [1, 2, 3]
        # top-1 == numpy argmax cosine over other-label vectors
        qv = vecs[q] / np.linalg.norm(vecs[q])
        best, best_s = None, -2.0
        for vid, v in vecs.items():
            if labels[vid] == labels[q]:
                continue
            s = float(qv @ (v / np.linalg.norm(v)))
            if s > best_s or (s == best_s and vid < best):
                best, best_s = vid, s
        assert dict(lst)[1] == best


def test_mmr_covers_distinct_clusters_and_is_deterministic(spark):
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.similarity import (
        mmr_select,
    )

    emb = _clustered_emb(spark, n_clusters=4, per=8).withColumn(
        "pool", F.lit(0)
    )
    a = mmr_select(emb, k=4, lam=0.5, group_col="pool").collect()
    b = mmr_select(emb, k=4, lam=0.5, group_col="pool").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # with tight planted clusters, 4 diverse picks hit 4 clusters
    clusters = {r.vec_id // 8 for r in a}
    assert len(clusters) == 4
    assert [r.pick_rank for r in sorted(a, key=lambda r: r.pick_rank)] == [
        1, 2, 3, 4,
    ]


def test_canonical_is_longest_member_of_its_cluster(spark):
    rows = _run(spark, "near_dup_canonical_docs")
    members = _run(spark, "near_dup_clusters")
    docs = {
        r.doc_id: r.n_chars
        for r in BY["text_quality"].builder(spark, SF_SMOKE)
        .sparkSession.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for m in members:
        by_cluster.setdefault(m.cluster_id, []).append(m.doc_id)
    for r in rows:
        assert r.canonical_doc_id in by_cluster[r.cluster_id]
        assert r.n_members == len(by_cluster[r.cluster_id])
        best = max(
            by_cluster[r.cluster_id], key=lambda d: (docs[d], -d)
        )
        assert r.canonical_doc_id == best


def test_cms_never_underestimates(spark):
    for r in _run(spark, "cms_token_counts"):
        assert r.overestimate >= 0
        assert r.cms_estimate >= r.exact_count


def test_kappa_bounds_and_po_pe_consistency(spark):
    (r,) = _run(spark, "cohens_kappa_langid")
    assert -1.0 - 1e-9 <= r.kappa <= 1.0 + 1e-9
    assert 0.0 <= r.po <= 1.0 and 0.0 <= r.pe <= 1.0


def test_padding_buckets_conserve_tokens(spark):
    rows = _run(spark, "padding_waste_buckets")
    for r in rows:
        assert r.pad_tokens >= 0 and r.kept_tokens <= r.bucket * r.n_docs
        assert r.kept_tokens + r.pad_tokens == r.bucket * r.n_docs
        assert 0.0 <= r.pad_fraction < 1.0
    # the cap bucket must carry all truncation
    for r in rows:
        if r.bucket < 64:
            assert r.truncated_tokens == 0


def test_pagerank_mass_and_positivity(spark):
    rows = _run(spark, "pagerank_nation_trade")
    assert len(rows) == 25
    total = sum(r.pagerank for r in rows)
    # no dangling nodes -> total mass conserved up to rounding
    assert abs(total - 1.0) < 1e-3
    assert all(r.pagerank > 0 for r in rows)


def test_markov_conversion_bounds(spark):
    rows = _run(spark, "markov_conversion_probability")
    for r in rows:
        # value iteration only adds mass on top of the direct edge
        assert 0.0 <= r.p_direct <= r.conv_prob <= 1.0 + 1e-9


def test_markov_distributed_fallback_matches_driver_fold(spark):
    """The >4096-state distributed fallback must reproduce the guarded
    driver fold exactly (same t-sorted IEEE-754 fold, same r6
    rounding) — it is the correctness-critical branch the fixture
    scales never exercise (VERDICT r8 #2)."""
    from pyspark.sql import Window

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.families.mining.graph import (
        _markov_conv_distributed,
    )

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.tables import (
        load_table,
    )

    e = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    )
    pairs = seq.filter(F.col("s") != "purchase").select(
        "s", F.coalesce(F.col("t"), F.lit("__END__")).alias("t")
    )
    cnt = pairs.groupBy("s", "t").agg(F.count("*").alias("n"))

    dist = sorted(
        map(tuple, _markov_conv_distributed(spark, cnt).collect())
    )
    fold = sorted(map(tuple, _run(spark, "markov_conversion_probability")))
    assert dist == fold


def test_max_coverage_breaks_cleanly_when_vocab_exhausts(spark):
    """When every trigram is covered before _MC_ROUNDS picks, the
    greedy loop must emit fewer rows (the pre-r8 behavior), not
    IndexError on an empty gain table (ADVICE r8)."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.families.ml import (
        training_data,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    orig_t = training_data._t
    training_data._t = lambda _s, _d, _n: docs
    try:
        rows = BY["max_coverage_doc_selection"].builder(spark, SF_SMOKE).collect()
    finally:
        training_data._t = orig_t
    # 2 distinct trigrams per doc, both docs identical: everything is
    # covered after 2 picks (the 2nd contributes gain 0 but still
    # rows >= 1); far fewer than _MC_ROUNDS, and no IndexError.
    assert 1 <= len(rows) < training_data._MC_ROUNDS
    assert rows[0].round == 1


def test_cascade_plan_and_lake_tombstones(spark, tmp_path):
    """Multi-hop cascade matches direct joins, and the tombstone
    batches actually erase (and keep erased) the keys in a lake."""
    import datetime as dt

    from pyspark.sql import functions as F

    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.cascade import (
        cascade_plan,
        cascade_tombstones,
    )
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.streaming.lake import (
        LakeTable,
    )

    users = spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], "uid int, name string"
    )
    orders = spark.createDataFrame(
        [(o, o % 10) for o in range(40)], "oid int, uid int"
    )
    items = spark.createDataFrame(
        [(i, i % 40) for i in range(120)], "iid int, oid int"
    )
    roots = spark.createDataFrame([(3,), (7,)], "uid int")
    plan = cascade_plan(
        {"users": users, "orders": orders, "items": items},
        # deliberately scrambled edge order: multi-hop must still close
        edges=[
            ("orders", "oid", "items", "oid"),
            ("users", "uid", "orders", "uid"),
        ],
        roots=roots,
        root_table="users",
        root_key="uid",
    )
    assert {r.uid for r in plan["users"].collect()} == {3, 7}
    want_orders = {o for o in range(40) if o % 10 in (3, 7)}
    assert {r.oid for r in plan["orders"].collect()} == want_orders
    want_items = {i for i in range(120) if (i % 40) in want_orders}
    assert {r.iid for r in plan["items"].collect()} == want_items

    # tombstones erase in the lake and block pre-erasure replays
    d = dt.date(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 1, 12)
    lake = LakeTable(path=str(tmp_path / "orders_lake"), record_key="oid")
    rows = orders.withColumn("processing_timestamp", F.lit(t1)).withColumn(
        "processing_date", F.lit(d)
    )
    lake.upsert_batch(rows, spark)
    tomb = cascade_tombstones(
        plan["orders"]
        .withColumn("processing_timestamp", F.lit(t2))
        .withColumn("processing_date", F.lit(d))
    )
    lake.upsert_batch(tomb, spark, delete_col="_is_delete")
    left = {r.oid for r in lake.read(spark).collect()}
    assert left == set(range(40)) - want_orders
    # pre-erasure replay (older precombine) must NOT resurrect
    lake.upsert_batch(
        rows.filter(F.col("oid").isin(list(want_orders)[:3])), spark
    )
    assert {r.oid for r in lake.read(spark).collect()} == left


def test_kfold_assignment_is_stable_partition_and_key_consistent(spark):
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.sampling import (
        kfold_assign,
    )

    df = spark.range(5_000).withColumnRenamed("id", "key")
    a = kfold_assign(df, "key", k=5).collect()
    b = kfold_assign(df, "key", k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    folds = {}
    for r in a:
        folds.setdefault(r.fold, 0)
        folds[r.fold] += 1
    assert set(folds) == {0, 1, 2, 3, 4}  # a partition of the data
    assert sum(folds.values()) == 5_000
    # hash-uniform: every fold within 20% of the expected 1000
    assert all(800 <= n <= 1200 for n in folds.values())


def test_edit_distance_join_prune_is_lossless(spark):
    """q-gram count + length pruning must not lose any true pair:
    compare against the quadratic truth on strings with planted
    substitutions, insertions, and deletions."""
    from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.operators.strings import (
        edit_distance_self_join,
    )

    base = [
        "alpha bridge", "alpha brigde", "alpha bridges", "alpa bridge",
        "beta tunnel", "beta tunel", "betta tunnell", "gamma road",
        "gamma rode", "gama roads", "delta port", "delta fort",
        "epsilon quay", "epsilonquay", "zeta dock", "zeta docks",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(base)], "pid long, name string"
    )
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in edit_distance_self_join(
            df, "name", "pid", max_dist=2, q=2
        ).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {}
    for i in range(len(base)):
        for j in range(i + 1, len(base)):
            d = lev(base[i], base[j])
            if d <= 2:
                want[(i, j)] = d
    assert got == want
