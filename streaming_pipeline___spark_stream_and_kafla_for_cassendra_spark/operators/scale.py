"""Scale techniques as first-class helpers: bucketed co-located
joins and salted skew joins.

The reference never needed these (single-partition Kafka topics,
sf-tiny tables) but a 100 TB deployment does:

* **Bucketing** — two fact tables bucketed by the same key into the
  same bucket count join WITHOUT a shuffle: each task reads matching
  bucket files from both sides. The exchange that dominates a
  fact-fact join disappears from the plan (asserted in tests).
* **Salting** — when one join key value carries a disproportionate
  share of rows (a hot user, a null-ish default), AQE's skew split
  helps shuffles but not broadcast-ineligible hot keys. Salting
  spreads the hot key across ``parts`` sub-keys: the big side gets a
  uniform salt, the small side is replicated ``parts`` times, and
  correctness is invariant to which salt a row draws.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def spread_for_compute(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to the cluster's default
    parallelism when its current partitioning under-fills it.

    The compute-heavy operator passes (Arrow mapInPandas
    fingerprinting, per-row numpy work) inherit the scan's partition
    count; a small single-row-group parquet input yields ONE split,
    so the whole pass runs on one core while the rest idle
    (optimization guide §2.6 stragglers/idle capacity, §6 input
    splits — measured round 8: every sf fixture is one row group, so
    winnowing/minhash/shingle passes were single-task). Shuffling the
    (id, text) projection once is orders of magnitude cheaper than
    serializing the Python pass.

    Scale-adaptive by construction: when the input already has at
    least ``target`` partitions (any real 100 TB scan), this is a
    no-op — no exchange is added. Round-robin repartition is safe
    here because every caller computes row-wise deterministic
    results (asserted by the phash/fingerprint determinism gates).
    The goal is the task-slot count, not ``spark.sql.shuffle.
    partitions``: a cluster that sets thousands of shuffle partitions
    would otherwise spread even a tiny frame into thousands of Python
    workers.
    """
    goal = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < goal:
        return df.repartition(goal)
    return df


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and sorted) by ``key`` so equi-joins
    and aggregations on the key run shuffle-free against any table
    sharing (key, n_buckets). ``path`` makes it an external table."""
    keys = [key] if isinstance(key, str) else list(key)
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog —
    a plain ``spark.read.parquet`` on the files would lose it)."""
    return spark.table(table)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    parts: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the big side's hot keys spread across ``parts``
    salt buckets and the small side replicated once per salt.

    The result is identical to ``big.join(small, key, how)`` for any
    salt assignment (each big row meets the full small side for its
    key exactly once), so the nondeterminism of ``rand`` across task
    retries cannot change the output — only the partition a row lands
    in. Supports inner/left joins (the salted small side would
    multiply unmatched right rows for right/full joins — rejected).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how}")
    salted_big = big.withColumn(
        "_salt", F.floor(F.rand(seed) * parts).cast("int")
    )
    # Catalyst's size estimate ignores the ×parts explode, so static
    # planning can pick a broadcast that materializes `parts` times
    # larger than estimated (observed: a "64 MB" dim exploding into a
    # 9.4 GiB broadcast failure at 50M rows). Salting targets shuffle
    # joins by definition — pin sort-merge so the plan is size-safe at
    # any scale.
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(parts)]))
    ).hint("merge")
    out = salted_big.join(salted_small, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def zorder_value(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleaving of two non-negative integer
    columns — multi-dimensional clustering for data skipping.

    A single-column range sort gives tight per-file min/max on that
    column but leaves every other column spanning the full domain in
    every file; interleaving the bits of two keys orders rows along a
    space-filling curve so per-file bounding boxes shrink on BOTH
    dimensions — selective predicates on either column (or both) skip
    files on parquet footers. Callers bucketize/rank non-integer
    columns first. Pure codegen bit arithmetic (2·bits ORs), no UDF.

    Use as the ``cluster_key`` input of a compaction rewrite:
    ``df.withColumn("_z", zorder_value(F.col("x"), F.col("y")))`` then
    ``repartitionByRange + sortWithinPartitions`` on ``_z``.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z


def dense_ids(
    df: DataFrame,
    *order_cols: str,
    num_partitions: int | None = None,
    id_col: str = "row_id",
) -> DataFrame:
    """Assign global, dense, 0-based row ids in ``order_cols`` order
    WITHOUT a global single-partition sort.

    ``row_number() OVER (ORDER BY ...)`` funnels every row through ONE
    task — the classic driver-shaped bottleneck that dies at 100 TB.
    This is the distributed equivalent:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` — the global
       order exists ACROSS partitions (partition i's rows all precede
       partition i+1's), each partition sorted locally in parallel.
    2. One cheap counting pass: per-partition row counts (a
       #partitions-row aggregate) → exclusive prefix sums on the
       driver (bounded by the partition count, never by data).
    3. An Arrow-batched ``mapInPandas`` adds ``offset[pid] +
       position-within-partition`` — zero additional shuffle of the
       data; all other columns pass through untouched.

    ``order_cols`` must be a unique key: range partitioning may split
    ties across partition boundaries, making tie order (and therefore
    ids among tied rows) partition-dependent otherwise.

    The id layer for training-data sharding: stable example ids,
    shard = row_id % n_shards.
    """
    if not order_cols:
        raise ValueError("dense_ids requires at least one order column")
    rp = df.repartitionByRange(
        *([num_partitions] if num_partitions else []), *order_cols
    ).sortWithinPartitions(*order_cols)
    # Range bounds come from SAMPLING, and this frame is evaluated
    # twice (counting pass + id pass) — without pinning the layout the
    # two passes can see DIFFERENT partition boundaries and the ids
    # go non-dense. localCheckpoint materializes the partitioning
    # once; on a production cluster swap for checkpoint() on reliable
    # storage (same one-line swap as the iterative operators).
    rp = rp.localCheckpoint(eager=False)
    with_pid = rp.withColumn("_pid", F.spark_partition_id())
    sizes = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    bc = df.sparkSession.sparkContext.broadcast(offsets)

    out_schema = with_pid.drop("_pid").schema.add(id_col, "long", False)

    def assign(batches):
        # defined inside so it pickles by value (worker cwd-safe)
        seen_by_pid: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = bc.value[pid] + seen_by_pid.get(pid, 0)
            seen_by_pid[pid] = seen_by_pid.get(pid, 0) + len(pdf)
            out = pdf.drop(columns=["_pid"])
            out[id_col] = range(base, base + len(pdf))
            yield out

    return with_pid.mapInPandas(assign, schema=out_schema)


def prefix_sums(
    df: DataFrame,
    order_cols: list[str] | tuple[str, ...],
    value_cols: list[str] | tuple[str, ...],
    num_partitions: int | None = None,
    prefix: str = "cum_",
) -> DataFrame:
    """Distributed running totals: for every row, the INCLUSIVE
    cumulative sum of each ``value_cols`` entry over all rows at or
    before it in ``order_cols`` order — WITHOUT the single-partition
    sort that ``sum() OVER (ORDER BY ...)`` plans.

    Same three-step shape as :func:`dense_ids`:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` establishes
       the global order across partitions;
    2. one counting pass aggregates PER-PARTITION sums (a
       #partitions-row collect) → exclusive prefix offsets on the
       driver — bounded by partition count, never by data;
    3. an Arrow-batched ``mapInPandas`` adds ``offset[pid] +
       local-cumsum`` in one pass, no further shuffle.

    ``order_cols`` must be a unique key (ties may straddle range
    partition boundaries). Cross-run determinism is guaranteed for
    integral / exactly-representable values; float value columns
    inherit the usual reassociation caveat. Integral input columns
    produce ``long`` running totals, everything else ``double``."""
    if not order_cols:
        raise ValueError("prefix_sums requires at least one order column")
    if not value_cols:
        raise ValueError("prefix_sums requires at least one value column")
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    rp = df.repartitionByRange(
        *([num_partitions] if num_partitions else []), *order_cols
    ).sortWithinPartitions(*order_cols)
    # pin the sampled range boundaries: the frame is evaluated twice
    # (per-partition sums, then the cumsum pass) — see dense_ids
    rp = rp.localCheckpoint(eager=False)
    with_pid = rp.withColumn("_pid", F.spark_partition_id())
    vcols = list(value_cols)
    integral = {
        c: isinstance(df.schema[c].dataType,
                      (ByteType, ShortType, IntegerType, LongType))
        for c in vcols
    }
    part_rows = (
        with_pid.groupBy("_pid")
        .agg(*[F.sum(c).alias(c) for c in vcols])
        .collect()
    )
    sums = {r["_pid"]: [r[c] or 0 for c in vcols] for r in part_rows}
    offsets: dict[int, list] = {}
    acc = [0] * len(vcols)
    for pid in sorted(sums):
        offsets[pid] = list(acc)
        acc = [a + s for a, s in zip(acc, sums[pid])]
    bc = df.sparkSession.sparkContext.broadcast(offsets)

    out_schema = with_pid.drop("_pid").schema
    for c in vcols:
        out_schema = out_schema.add(
            prefix + c, "long" if integral[c] else "double", True
        )

    def add_cums(batches):
        # defined inside so it pickles by value (worker cwd-safe)
        carry: dict[int, list] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = carry.setdefault(pid, list(bc.value[pid]))
            out = pdf.drop(columns=["_pid"])
            for i, c in enumerate(vcols):
                vals = out[c].fillna(0)
                if integral[c]:
                    vals = vals.astype("int64")
                cs = vals.cumsum() + base[i]
                out[prefix + c] = cs
                base[i] = cs.iloc[-1]
            yield out

    return with_pid.mapInPandas(add_cums, schema=out_schema)


def collect_file_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Build a per-file min/max statistics index — the data-skipping
    layer a lakehouse keeps in its manifest (Delta add-file stats,
    Iceberg manifests, Hudi column_stats).

    One full scan groups rows by ``input_file_name()`` and records
    min/max per requested column. Persist the result next to the
    table and keep it fresh on write; reads then consult the index
    instead of opening footers. Pairs with ``zorder_value`` — Z-
    ordered layout is what makes these per-file bounding boxes tight
    on MULTIPLE columns at once.
    """
    df = spark.read.parquet(path)
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def pruned_read(
    spark: SparkSession,
    path: str,
    stats: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Range-predicate read that opens ONLY files whose [min, max]
    interval intersects [lo, hi], per the ``collect_file_stats``
    index.

    The file list is index-metadata-sized (one row per file — the
    same information a lake format's planner pulls from its
    manifest), never data-sized; the predicate is re-applied after
    the scan, so skipping is purely an optimization and can never
    change results. Files whose stats straddle the range still get
    row-group-level pushdown from the parquet reader.
    """
    keep = [
        r["file"]
        for r in stats.filter(
            (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
        )
        .select("file")
        .collect()
    ]
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not keep:
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*keep).where(pred)


def _bloom_positions(col: str, k: int, m: int):
    """k hash positions in [0, m) for a value, via xxhash64 with k
    seeds — pure codegen expressions, no UDF."""
    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(m)) for seed in range(k)
    ]


def build_bloom_file_index(
    spark: SparkSession,
    path: str,
    col: str,
    bits: int = 1 << 16,
    hashes: int = 5,
) -> DataFrame:
    """Per-file Bloom-filter index for EQUALITY lookups on a
    high-cardinality key — the complement of ``collect_file_stats``
    (min/max ranges skip poorly when every file spans the key
    domain, e.g. unsorted user_id).

    One scan: each row sets ``hashes`` bit positions (xxhash64 with
    k seeds → pmod bits), positions group into 64-bit words, and
    ``bit_or(1 << offset)`` folds each word per (file, word index).
    The index is one row per non-empty word per file — metadata-
    sized, the same shape Parquet's own optional bloom filters or a
    lake format's puffin/deletion-vector sidecars take. Entirely
    JVM-side codegen: no UDFs, no driver loops over data.
    """
    df = spark.read.parquet(path).select(
        F.input_file_name().alias("file"), F.col(col)
    )
    pos = F.explode(F.array(*_bloom_positions(col, hashes, bits))).alias("pos")
    words = df.select("file", pos).select(
        "file",
        (F.col("pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(pos % 64 AS INT))").alias("bit"),
    )
    return words.groupBy("file", "word").agg(F.bit_or("bit").alias("bits"))


def bloom_lookup_read(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    col: str,
    value,
    bits: int = 1 << 16,
    hashes: int = 5,
) -> DataFrame:
    """Point-lookup read that opens ONLY files whose Bloom filter
    matches ``value`` on ALL ``hashes`` positions.

    The probe computes the value's k (word, bit) pairs driver-side
    (k scalars), semi-joins them against the metadata-sized index,
    and keeps files where all k bits are set. False positives cost
    an extra file open (the exact predicate re-filters after the
    scan, so results never change); false negatives cannot happen.
    ``bits``/``hashes`` must match the build call.
    """
    probe = spark.range(1).select(F.lit(value).alias(col))
    pairs = probe.select(
        F.array(*_bloom_positions(col, hashes, bits)).alias("ps")
    ).select(F.explode("ps").alias("pos")).select(
        (F.col("pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, cast(pos % 64 AS INT))").alias("bit"),
    ).collect()
    hits = index
    # a file qualifies iff every probed (word, bit) is present: count
    # matching index rows per file == number of DISTINCT probed words
    # (several bits can share a word — OR them before matching)
    want: dict[int, int] = {}
    for r in pairs:
        want[r["word"]] = want.get(r["word"], 0) | r["bit"]
    match = None
    for w, b in want.items():
        m = (F.col("word") == F.lit(w)) & (F.col("bits").bitwiseAND(F.lit(b)) == F.lit(b))
        match = m if match is None else (match | m)
    qualified = (
        hits.filter(match)
        .groupBy("file")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") == F.lit(len(want)))
    )
    keep = [r["file"] for r in qualified.select("file").collect()]
    if not keep:
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*keep).where(F.col(col) == F.lit(value))


def runtime_in_filter(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    max_keys: int = 1_000,
) -> DataFrame:
    """Dynamic runtime filter: when the filtering dimension resolves
    to few distinct keys, collect them (broadcast-build cost class)
    and push an ``In`` predicate into the FACT's scan — the predicate
    evaluates inside the scan's codegen stage, so non-qualifying fact
    rows die before any shuffle, and small key sets reach the parquet
    reader as PushedFilters for row-group pruning. This is the
    dimension-to-fact pushdown Spark's dynamic partition pruning does
    for partition columns, generalized to arbitrary keys.

    Above ``max_keys`` the key set stops paying for itself as a
    literal predicate (codegen'd InSet evaluation + plan-compile cost
    grow with the list) and the operator falls back to a broadcast
    LEFT SEMI join — identical result, still one scan of the fact
    side. The 1 000 default is the measured sweet spot: at sf0.1 the
    3 000-key ASIA customer set ran 2.2 s as literals vs ~1 s as a
    broadcast semi join.
    """
    dk = dim_key or fact_key
    keys_df = dim.select(F.col(dk).alias(fact_key)).distinct()
    sample = keys_df.limit(max_keys + 1).collect()
    if len(sample) > max_keys:
        return fact.join(F.broadcast(keys_df), on=fact_key, how="left_semi")
    return fact.filter(F.col(fact_key).isin([r[0] for r in sample]))


def cdf_area(
    df: DataFrame,
    value_col: str,
    count_cols: tuple[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed exact area between two empirical CDFs — the 1-D
    Wasserstein-1 integral — WITHOUT a single-partition window over
    the value support.

    ``df`` holds one row per DISTINCT support value ``value_col``
    (integral) with the two per-value counts ``count_cols``. Between
    consecutive support points both CDFs are constant, so

        W1 * n1 * n2 = sum over gaps of (next_v - v) * |cum1*n2 - cum2*n1|

    stays a pure integer. Same three-step shape as
    :func:`prefix_sums`:

    1. ``repartitionByRange(value_col)`` + in-partition sort gives
       the global support order;
    2. one bounded collect takes each partition's (count sums, last
       value) → exclusive cumulative carry-ins AND the boundary gap
       each partition owes to its predecessor's last support point;
    3. an Arrow pass per partition emits one partial-sum row split
       as (hi = total div 2^62, lo = total mod 2^62) — Python ints
       inside the pass, so per-partition totals never wrap;
    4. recombination happens in decimal(38,0): SUM(lo) alone can
       reach P·2^62 and the shifted total can pass 2^63, so a long
       SUM would wrap silently at large n1·n2·value-range products.

    Returns a 1-row DataFrame: total counts n1/n2 (long) and the
    EXACT integer numerator (area * n1 * n2) as decimal(38,0). The
    caller divides once (and may cast down when its scale bounds
    the numerator under 2^63).
    """
    c1, c2 = count_cols
    rp = df.repartitionByRange(
        *([num_partitions] if num_partitions else []), value_col
    ).sortWithinPartitions(value_col)
    rp = rp.localCheckpoint(eager=False)
    with_pid = rp.withColumn("_pid", F.spark_partition_id())
    part_rows = (
        with_pid.groupBy("_pid")
        .agg(
            F.sum(c1).alias("s1"),
            F.sum(c2).alias("s2"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
        .collect()
    )
    info = {
        r["_pid"]: (int(r["s1"] or 0), int(r["s2"] or 0),
                    r["vmin"], r["vmax"])
        for r in part_rows
    }
    carry: dict[int, tuple] = {}
    a1 = a2 = 0
    prev_last = None
    for pid in sorted(info):
        s1, s2, vmin, vmax = info[pid]
        if vmin is None:
            carry[pid] = (a1, a2, prev_last)
            continue
        # carry-in cum counts and the predecessor's last support value
        carry[pid] = (a1, a2, prev_last)
        a1 += s1
        a2 += s2
        prev_last = int(vmax)
    n1, n2 = a1, a2
    bc = df.sparkSession.sparkContext.broadcast(carry)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("num_hi", LongType()),  # numerator div 2^62
            StructField("num_lo", LongType()),  # numerator mod 2^62
        ]
    )

    def partials(batches):
        import pandas as pd

        carry_map = bc.value
        # a partition arrives as SEVERAL Arrow batches: thread the
        # cumulative state across all of them, emit ONE partial row
        state = None  # (cum1, cum2, prev_v, total)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if state is None:
                pid = int(pdf["_pid"].iloc[0])
                cum1, cum2, prev_v = carry_map.get(pid, (0, 0, None))
                total = 0
            else:
                cum1, cum2, prev_v, total = state
            vs = pdf[value_col].to_list()
            x1 = pdf[c1].to_list()
            x2 = pdf[c2].to_list()
            for v, d1, d2 in zip(vs, x1, x2):
                v = int(v)
                if prev_v is not None and v > prev_v:
                    total += (v - prev_v) * abs(cum1 * n2 - cum2 * n1)
                cum1 += int(d1)
                cum2 += int(d2)
                prev_v = v
            state = (cum1, cum2, prev_v, total)
        if state is not None:
            total = state[3]
            yield pd.DataFrame(
                {"num_hi": [total >> 62], "num_lo": [total & ((1 << 62) - 1)]}
            )

    parts = with_pid.mapInPandas(partials, out_schema)
    # Recombine in decimal(38,0): per-partition (hi, lo) are < 2^62,
    # but SUM(lo) over P partitions reaches P·2^62 and the shifted
    # recombination reaches the true numerator, both of which can
    # pass 2^63 — a long SUM/multiply would wrap silently. decimal
    # keeps the numerator exact to 10^38 (≫ any achievable n1·n2·
    # value-range product); callers that know their scale may cast
    # back down.
    agg = parts.agg(
        F.sum(F.col("num_hi").cast("decimal(38,0)")).alias("hi"),
        F.sum(F.col("num_lo").cast("decimal(38,0)")).alias("lo"),
    )
    return agg.select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        (
            F.col("hi") * F.lit(2 ** 62).cast("decimal(38,0)")
            + F.col("lo")
        )
        .cast("decimal(38,0)")
        .alias("numerator"),
    )
