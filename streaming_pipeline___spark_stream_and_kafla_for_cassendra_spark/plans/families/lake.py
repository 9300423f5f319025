"""Storage-layer queries: CDC decode and snapshot diffs, SCD2 and
snapshot-lake time travel, materialized-view rewrite, erasure
cascades, and layout audits (z-order pruning, compaction planning,
encoding size, bucketed joins, content-defined chunking).
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core import _r6, _register, _t


@_register(
    "cdc_roundtrip_counts",
    """
    SELECT CASE WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
           count(*) AS n_events,
           count(DISTINCT user_id) AS unique_users
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1
    """,
    "F1/F2 + S3 parity: build Debezium envelopes with to_json(struct(*)), "
    "decode with the two-stage from_json parse (op filter drops 'd'), "
    "aggregate — the oracle states the expected post-decode truth",
    ("cdc", "json", "events"),
)
def cdc_roundtrip_counts(spark, sf_dir):
    from ...schemas import DEBEZIUM_ENVELOPE_SCHEMA  # noqa: F401 (parity doc)
    from ...sources.cdc import decode_cdc
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    e = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    envelope = F.to_json(
        F.struct(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.to_json(
                    F.struct("event_id", "event_type", "user_id")
                ).alias("after"),
                op.alias("op"),
                (F.unix_timestamp("ts") * 1000).alias("ts_ms"),
            ).alias("payload")
        )
    )
    raw = e.select(envelope.alias("value"))
    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
        ]
    )
    decoded = decode_cdc(raw, payload_schema)
    return decoded.groupBy("op").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("unique_users"),
    )


@_register(
    "cdc_source_decode_counts",
    """
    WITH seq AS (SELECT unnest(generate_series(0, 1999)) AS i),
    recs AS (
      SELECT i, (i * 7) % 499 + 1 AS emp_id,
             ['c', 'u', 'u', 'd'][i % 4 + 1] AS op
      FROM seq
    )
    SELECT ['Engineering', 'Marketing', 'Sales', 'HR'][emp_id % 4 + 1]
             AS department,
           op, CAST(count(*) AS BIGINT) AS n_events
    FROM recs WHERE op <> 'd'
    GROUP BY 1, 2
    """,
    "Custom Python DataSource end-to-end (Spark 4 DataSource API): "
    "the broker-less cdc_envelope source (sources/cdc_source.py) "
    "emits 2000 Kafka-shaped Debezium records across 4 input "
    "partitions, the standard two-stage decode_cdc parses them "
    "(deletes dropped), and per-department op counts must equal the "
    "oracle's arithmetic reconstruction of the deterministic "
    "generator — proving the pluggable source, the envelope "
    "contract, and the decode path agree record-for-record",
    ("cdc", "source", "datasource"),
)
def cdc_source_decode_counts(spark, sf_dir):
    from ...schemas import EMPLOYEE_SCHEMA
    from ...sources.cdc import decode_cdc
    from ...sources.cdc_source import CdcEnvelopeDataSource

    spark.dataSource.register(CdcEnvelopeDataSource)
    raw = (
        spark.read.format("cdc_envelope")
        .option("rows", 2000)
        .option("numPartitions", 4)
        .load()
    )
    decoded = decode_cdc(raw.select("value"), EMPLOYEE_SCHEMA)
    return decoded.groupBy("department", "op").agg(
        F.count("*").alias("n_events")
    )


@_register(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT coalesce(new.o_orderkey, old.o_orderkey) AS o_orderkey,
           CASE
             WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                  AND (old.o_totalprice IS DISTINCT FROM new.o_totalprice
                       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus)
               THEN 'u'
             WHEN new.o_orderkey IS NULL THEN 'd'
             WHEN old.o_orderkey IS NULL THEN 'c'
           END AS op,
           old.o_totalprice  AS old_o_totalprice,
           old.o_orderstatus AS old_o_orderstatus,
           new.o_totalprice  AS new_o_totalprice,
           new.o_orderstatus AS new_o_orderstatus
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
       OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
    """,
    "Snapshot diffing — CDC changelog DERIVATION (the inverse of the "
    "reference's envelope decode): two deterministic snapshots of "
    "orders (old drops keys %11=0; new drops %7=0 and bumps "
    "totalprice by an exact +10.0 on keys %5=0) are full-outer "
    "joined on the key and classified into the Debezium op taxonomy "
    "c/u/d with null-safe tracked-column comparison; unchanged keys "
    "emit nothing. One shuffle — the minimum for a diff; bucketed "
    "snapshots make it zero-exchange at 100 TB",
    ("cdc", "diff", "join"),
)
def snapshot_diff_orders(spark, sf_dir):
    from ...operators.diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"], tracked=["o_totalprice", "o_orderstatus"]
    )


# ---------------------------------------------------------------------------
# Materialized-view rewrite (summary-table acceleration, plans/mv.py)
# ---------------------------------------------------------------------------

@_register(
    "mv_rewrite_daily_value_stats",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           floor(round(sum(value), 2) / count(*) * 1000000 + 0.5)
             / 1000000.0 AS avg_value
    FROM events GROUP BY 1, 2
    """,
    "Summary-table acceleration proved sound end-to-end: an HOURLY "
    "mergeable-partials summary (plans/mv.py::SummaryTable) is built "
    "once, then a DAILY per-type stats request is answered by QUERY "
    "REWRITE over the partials — while the oracle recomputes the "
    "truth from raw fact rows. Count/min/max merge exactly; the "
    "re-summed sum rounds to cents; avg derives from the rounded sum "
    "so both engines divide identical doubles. At 100 TB the rewrite "
    "reads ~10⁵ summary rows instead of the fact table",
    ("mv", "rewrite", "agg", "events"),
)
def mv_rewrite_daily_value_stats(spark, sf_dir):
    import tempfile

    from ..mv import AggRequest, SummaryTable

    e = _t(spark, sf_dir, "events")
    summary = SummaryTable(
        path=tempfile.mkdtemp(prefix="mv_events_") + "/hourly",
        time_col="ts",
        value_col="value",
        keys=("event_type",),
        grain="hour",
    )
    summary.build(e)
    req = AggRequest(
        grain="day",
        keys=("event_type",),
        measures=("n_rows", "sum_value", "min_value", "max_value"),
    )
    hit = summary.try_rewrite(spark, req)
    if hit is None:  # pragma: no cover - rewrite must trigger here
        raise RuntimeError("summary rewrite unexpectedly refused the request")
    sum2 = F.round("sum_value", 2)
    return hit.select(
        F.to_date("bucket").alias("day"),
        "event_type",
        "n_rows",
        sum2.alias("sum_value"),
        "min_value",
        "max_value",
        _r6(sum2 / F.col("n_rows")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# SCD2 temporal (point-in-time) join
# ---------------------------------------------------------------------------

@_register(
    "scd2_point_in_time_join",
    """
    WITH labeled AS (
      SELECT o_custkey, o_totalprice,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' THEN 2
                  WHEN o_orderdate >= TIMESTAMP '1996-01-01' THEN 1
                  ELSE 0 END AS v
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    )
    SELECT c_mktsegment || '#v' || CAST(v AS VARCHAR) AS seg_version,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM labeled JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    "Temporal (point-in-time) join against the SCD2 history lake: "
    "three deterministic yearly versions of every customer are "
    "upserted through Scd2Table (streaming/scd2.py — validity "
    "intervals derived by the table, not by this query), then each "
    "order joins the version VALID AT ITS ORDER DATE. The oracle "
    "recomputes the truth declaratively from the version calendar, "
    "so interval closure/chaining in the lake layout is what is "
    "being checked. Equi-join on the key + interval predicate — one "
    "shuffle, no range blowup",
    ("scd2", "temporal-join", "lake", "orders", "customer"),
)
def scd2_point_in_time_join(spark, sf_dir):
    import tempfile

    from ...streaming.scd2 import Scd2Table

    c = _t(spark, sf_dir, "customer")
    table = Scd2Table(
        path=tempfile.mkdtemp(prefix="scd2_pit_") + "/cust",
        record_key="c_custkey",
        precombine_field="pts",
    )
    for v, ts in enumerate(("1995-01-01", "1996-01-01", "1997-01-01")):
        batch = c.select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit(f"#v{v}")).alias("seg_version"),
            F.lit(ts).cast("timestamp").alias("pts"),
        )
        table.upsert_batch(batch, spark)
    versions = table.read_history(spark).select(
        "c_custkey", "seg_version", "_valid_from", "_valid_to"
    )
    o = _t(spark, sf_dir, "orders")
    j = o.join(
        versions,
        (o["o_custkey"] == versions["c_custkey"])
        & (F.col("_valid_from") <= o["o_orderdate"])
        & (F.col("_valid_to").isNull() | (o["o_orderdate"] < F.col("_valid_to"))),
    )
    return j.groupBy("seg_version").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Key-space completeness audit (gap ranges)
# ---------------------------------------------------------------------------

@_register(
    "eventid_gap_ranges",
    """
    WITH k AS (SELECT DISTINCT event_id AS key FROM events
               WHERE event_type = 'purchase'),
    n AS (
      SELECT key, lead(key) OVER (ORDER BY key) AS nxt FROM k
    )
    SELECT key + 1 AS gap_start, nxt - 1 AS gap_end,
           CAST(nxt - key - 1 AS BIGINT) AS gap_len
    FROM n WHERE nxt IS NOT NULL AND nxt - key > 1
    """,
    "Key-space completeness audit: contiguous missing-id ranges in "
    "the purchase stream via one lead() pass over the distinct "
    "sorted keys — the sequence-gap detector for CDC feeds (a gap "
    "in a monotonically assigned key usually means dropped "
    "changes). Scale note: the global-order window runs over "
    "DISTINCT keys after a map-side-combined dedup; for a truly "
    "dense 100 TB key space, range-partition the keys and lead() "
    "within ranges, stitching boundaries with one extra pass over "
    "#partitions rows",
    ("window", "quality", "cdc", "events"),
)
def eventid_gap_ranges(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("key"))
        .distinct()
    )
    nxt = F.lead("key").over(Window.orderBy("key"))
    n = k.select("key", nxt.alias("nxt"))
    return n.filter(
        F.col("nxt").isNotNull() & (F.col("nxt") - F.col("key") > 1)
    ).select(
        (F.col("key") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("key") - 1).alias("gap_len"),
    )


@_register(
    "bitmap_index_range_distinct",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_ids,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
    GROUP BY 1
    """,
    "Materialized bitmap index answering an exact distinct-users "
    "range query (operators/bitmap_index.py::BitmapDistinctIndex): "
    "per-(day, type, bucket) bitmaps build once, then the two-week "
    "question OR-merges only the range's date partitions and "
    "popcounts — the fact table is absent from the query plan. The "
    "oracle recomputes the truth from raw rows; count(DISTINCT) "
    "finally gets a mergeable, exact, re-aggregatable materialized "
    "form",
    ("bitmap", "index", "distinct", "mv", "events"),
)
def bitmap_index_range_distinct(spark, sf_dir):
    import tempfile

    from ...operators.bitmap_index import BitmapDistinctIndex

    e = _t(spark, sf_dir, "events")
    idx = BitmapDistinctIndex(path=tempfile.mkdtemp(prefix="bmidx_") + "/events")
    idx.build(e)
    return idx.distinct_over(spark, "2024-01-08", "2024-01-21").select(
        "event_type",
        F.col("distinct_ids").cast("long").alias("distinct_ids"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Snapshot lake time travel (MVCC manifests)
# ---------------------------------------------------------------------------

@_register(
    "snapshot_lake_time_travel",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c_acctbal
                     + CASE WHEN c_custkey % 3 = 0 THEN 1000 ELSE 0 END), 2)
             AS total_bal
    FROM customer GROUP BY 1
    """,
    "MVCC time travel through the snapshot lake (streaming/"
    "snapshot_lake.py): three upsert commits build versions 1-3 "
    "(base load, +1000 for custkey%3 keys, +5000 for custkey%5 "
    "keys), then the query reads VERSION 2 — after the third commit "
    "exists — and aggregates it. The oracle states version 2's truth "
    "declaratively from the base table, so manifest isolation is "
    "what is checked: a reader of v2 must see none of v3's files. "
    "Immutable data files + atomic manifest rename = the "
    "Delta/Iceberg commit model without the format jar",
    ("lake", "mvcc", "time-travel", "customer"),
)
def snapshot_lake_time_travel(spark, sf_dir):
    import tempfile

    from ...streaming.snapshot_lake import SnapshotLakeTable

    c = _t(spark, sf_dir, "customer")
    t = SnapshotLakeTable(
        path=tempfile.mkdtemp(prefix="snaplake_") + "/cust",
        record_key="c_custkey",
        precombine_field="pts",
        partition_field="pdate",
    )

    def version(bal_expr, ts, pred=None):
        df = c.select(
            "c_custkey",
            "c_mktsegment",
            bal_expr.alias("bal"),
            F.lit(ts).cast("timestamp").alias("pts"),
            F.to_date(
                F.when(F.col("c_custkey") % 2 == 0, F.lit("2024-06-01"))
                .otherwise(F.lit("2024-06-02"))
            ).alias("pdate"),
        )
        return df.filter(pred) if pred is not None else df

    t.upsert_batch(version(F.col("c_acctbal"), "2024-06-01 00:00:00"), spark)
    t.upsert_batch(
        version(
            F.col("c_acctbal") + 1000,
            "2024-06-02 00:00:00",
            pred=F.col("c_custkey") % 3 == 0,
        ),
        spark,
    )
    t.upsert_batch(
        version(
            F.col("c_acctbal") + 5000,
            "2024-06-03 00:00:00",
            pred=F.col("c_custkey") % 5 == 0,
        ),
        spark,
    )
    return (
        t.read(spark, version=2)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("bal"), 2).alias("total_bal"),
        )
    )


@_register(
    "gdpr_cascade_counts",
    """
    SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer WHERE c_custkey % 97 = 0
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_custkey % 97 = 0
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_custkey % 97 = 0)
    """,
    "Right-to-erasure cascade plan (GDPR/CCPA): a deterministic root "
    "set of customers walks the FK graph customer→orders→lineitem "
    "via operators/cascade.py::cascade_plan — one LEFT SEMI join per "
    "table against the parent's key-sized (broadcast) affected keys "
    "— and reports the per-table blast radius. The oracle states "
    "each table's truth as a direct semi-join; cascade_tombstones "
    "then feeds the same frames to the lake's resurrection-blocking "
    "tombstone path (tested in tests/test_round8_ops.py)",
    ("compliance", "cascade", "join", "orders", "lineitem"),
)
def gdpr_cascade_counts(spark, sf_dir):
    from ...operators.cascade import cascade_plan

    tables = {
        "customer": _t(spark, sf_dir, "customer"),
        "orders": _t(spark, sf_dir, "orders"),
        "lineitem": _t(spark, sf_dir, "lineitem"),
    }
    roots = (
        tables["customer"]
        .filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey")
    )
    plan = cascade_plan(
        tables,
        edges=[
            ("customer", "c_custkey", "orders", "o_custkey"),
            ("orders", "o_orderkey", "lineitem", "l_orderkey"),
        ],
        roots=roots,
        root_table="customer",
        root_key="c_custkey",
    )
    parts = [
        df.agg(F.count("*").alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )
        for name, df in plan.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Z-order (Morton) vs linear clustering: file-skipping audit
# ---------------------------------------------------------------------------

_Z_BITS = 8          # each dim quantized to [0, 256)
_Z_FILES = 64
_Z_PROBES = [
    # (probe_id, plo, phi, slo, shi) — 32x32 rectangles scattered
    (0, 0, 31, 0, 31),
    (1, 32, 63, 96, 127),
    (2, 64, 95, 192, 223),
    (3, 96, 127, 32, 63),
    (4, 128, 159, 128, 159),
    (5, 160, 191, 224, 255),
    (6, 192, 223, 64, 95),
    (7, 224, 255, 160, 191),
]


def _morton_sql(div: str) -> str:
    """Bit-interleave (pb, sb) into a 16-bit Morton code with pure
    arithmetic (generated identically for both engines; only the
    integer-division operator differs)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((pb {div} {2 ** i}) % 2) * {4 ** i}")
        terms.append(f"((sb {div} {2 ** i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


def _z_probe_sql(alias: str) -> str:
    rows = []
    for pid, plo, phi, slo, shi in _Z_PROBES:
        rows.append(
            f"SELECT {pid} AS probe_id, {plo} AS plo, {phi} AS phi, "
            f"{slo} AS slo, {shi} AS shi"
        )
    return " UNION ALL ".join(rows)


@_register(
    "zorder_pruning_audit",
    f"""
    WITH base AS (
      SELECT (l_partkey * 53) % 256 AS pb, (l_suppkey * 37) % 256 AS sb
      FROM lineitem
    ),
    coded AS (
      SELECT pb, sb,
             ({_morton_sql("//")}) // {65536 // _Z_FILES} AS fid_z,
             pb // {256 // _Z_FILES} AS fid_lin
      FROM base
    ),
    files AS (
      SELECT 'zorder' AS layout, fid_z AS fid,
             CAST(min(pb) AS BIGINT) AS minp, CAST(max(pb) AS BIGINT) AS maxp,
             CAST(min(sb) AS BIGINT) AS mins, CAST(max(sb) AS BIGINT) AS maxs,
             CAST(count(*) AS BIGINT) AS rows_in_file
      FROM coded GROUP BY 2
      UNION ALL
      SELECT 'linear', fid_lin,
             CAST(min(pb) AS BIGINT), CAST(max(pb) AS BIGINT),
             CAST(min(sb) AS BIGINT), CAST(max(sb) AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM coded GROUP BY 2
    ),
    probes AS ({_z_probe_sql("p")}),
    touched AS (
      SELECT f.layout, p.probe_id,
             CAST(count(*) AS BIGINT) AS files_touched,
             CAST(sum(f.rows_in_file) AS BIGINT) AS rows_scanned
      FROM files f JOIN probes p
        ON NOT (f.maxp < p.plo OR f.minp > p.phi
                OR f.maxs < p.slo OR f.mins > p.shi)
      GROUP BY 1, 2
    ),
    actual AS (
      SELECT p.probe_id, CAST(count(*) AS BIGINT) AS rows_actual
      FROM base b JOIN probes p
        ON b.pb BETWEEN p.plo AND p.phi AND b.sb BETWEEN p.slo AND p.shi
      GROUP BY 1
    )
    SELECT t.layout, t.probe_id, t.files_touched, t.rows_scanned,
           coalesce(a.rows_actual, 0) AS rows_actual,
           CAST({_Z_FILES} AS BIGINT) AS total_files
    FROM touched t LEFT JOIN actual a ON a.probe_id = t.probe_id
    """,
    "Z-order clustering audit — the data-LAYOUT optimization that "
    "makes multi-dimensional pruning work at 100 TB (Delta "
    "OPTIMIZE ZORDER / Hudi clustering): lineitem rows are bucketed "
    "on two dims ((partkey*53)%256, (suppkey*37)%256 — multipliers "
    "spread sparse key ranges across the grid at any SF), assigned "
    "to 64 "
    "synthetic files either by 16-bit Morton interleave (bit "
    "arithmetic generated identically for both engines) or by "
    "linear partkey ranges, and 8 fixed 32x32 probe rectangles are "
    "evaluated against each file's min/max zone map. The audit "
    "reports files touched and rows scanned per layout vs the true "
    "matching rows — Z-order touches ~sqrt the files linear "
    "clustering does on 2-D probes, which IS the parquet row-group "
    "skipping win. Pure integer min/max aggregates; the probe join "
    "is 64 x 8 literals.",
    ("layout", "pruning", "lineitem"),
)
def zorder_pruning_audit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        ((F.col("l_partkey") * 53) % 256).alias("pb"),
        ((F.col("l_suppkey") * 37) % 256).alias("sb"),
    ).localCheckpoint(eager=False)
    coded = base.select(
        "pb",
        "sb",
        F.expr(
            f"({_morton_sql('div')}) div {65536 // _Z_FILES}"
        ).alias("fid_z"),
        F.expr(f"pb div {256 // _Z_FILES}").alias("fid_lin"),
    )
    def files_of(fid_col, layout):
        return (
            coded.groupBy(F.col(fid_col).alias("fid"))
            .agg(
                F.min("pb").alias("minp"),
                F.max("pb").alias("maxp"),
                F.min("sb").alias("mins"),
                F.max("sb").alias("maxs"),
                F.count("*").alias("rows_in_file"),
            )
            .select(
                F.lit(layout).alias("layout"),
                "fid",
                F.col("minp").cast("long").alias("minp"),
                F.col("maxp").cast("long").alias("maxp"),
                F.col("mins").cast("long").alias("mins"),
                F.col("maxs").cast("long").alias("maxs"),
                F.col("rows_in_file").cast("long").alias("rows_in_file"),
            )
        )

    files = files_of("fid_z", "zorder").unionAll(files_of("fid_lin", "linear"))
    probes = spark.createDataFrame(
        _Z_PROBES, "probe_id int, plo int, phi int, slo int, shi int"
    )
    touched = (
        files.join(
            F.broadcast(probes),
            ~(
                (F.col("maxp") < F.col("plo"))
                | (F.col("minp") > F.col("phi"))
                | (F.col("maxs") < F.col("slo"))
                | (F.col("mins") > F.col("shi"))
            ),
        )
        .groupBy("layout", "probe_id")
        .agg(
            F.count("*").alias("files_touched"),
            F.sum("rows_in_file").alias("rows_scanned"),
        )
    )
    actual = (
        base.join(
            F.broadcast(probes),
            F.col("pb").between(F.col("plo"), F.col("phi"))
            & F.col("sb").between(F.col("slo"), F.col("shi")),
        )
        .groupBy("probe_id")
        .agg(F.count("*").alias("rows_actual"))
    )
    return (
        touched.join(F.broadcast(actual), "probe_id", "left")
        .select(
            "layout",
            "probe_id",
            F.col("files_touched").cast("long").alias("files_touched"),
            F.col("rows_scanned").cast("long").alias("rows_scanned"),
            F.coalesce(F.col("rows_actual"), F.lit(0))
            .cast("long")
            .alias("rows_actual"),
            F.lit(_Z_FILES).cast("long").alias("total_files"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction planner (greedy size-based bin packing)
# ---------------------------------------------------------------------------

_COMPACT_ROW_BYTES = 200
_COMPACT_TARGET = 256 * 1024      # bin target bytes
_COMPACT_SMALL = 128 * 1024       # "small file" threshold


@_register(
    "compaction_bin_packing_plan",
    f"""
    WITH manifest AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(hour(ts) AS INTEGER) AS hr,
             CAST(count(*) * {_COMPACT_ROW_BYTES} AS BIGINT) AS bytes
      FROM events GROUP BY 1, 2
    ),
    binned AS (
      SELECT day, hr, bytes,
             CAST((sum(bytes) OVER (PARTITION BY day ORDER BY hr
                                    ROWS UNBOUNDED PRECEDING) - bytes)
                  // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM manifest
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
           CAST(sum(CASE WHEN bytes < {_COMPACT_SMALL} THEN 1 ELSE 0 END)
                AS BIGINT) AS small_files,
           CAST((count(*) - count(DISTINCT bin)) * 1000000 // count(*)
                AS BIGINT) AS reduction_ppm
    FROM binned GROUP BY 1
    """,
    "Small-file compaction planner — the lake-maintenance operation "
    "every streaming sink needs (micro-batches write hour-grained "
    "small files; readers want ~256 KB+ units): a per-(day,hour) "
    "file manifest is derived from events (bytes = rows x 200), and "
    "files pack greedily into target-size bins via a running-sum "
    "window — bin = exclusive-prefix-bytes // target, the "
    "deterministic one-pass equivalent of first-fit on an ordered "
    "manifest. Reports per partition the file count, small-file "
    "count, planned bin count and the file-count reduction in ppm. "
    "The window orders <=24 files per day partition; at 100 TB this "
    "is the metadata-sized query it is here — the plan never "
    "touches data bytes, only the manifest.",
    ("layout", "compaction", "lake", "events"),
)
def compaction_bin_packing_plan(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    manifest = e.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg((F.count("*") * _COMPACT_ROW_BYTES).cast("long").alias("bytes"))
    w = (
        Window.partitionBy("day")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    binned = manifest.select(
        "day",
        "bytes",
        (F.sum("bytes").over(w) - F.col("bytes")).alias("cum_before"),
    ).select(
        "day",
        "bytes",
        F.expr(f"cum_before div {_COMPACT_TARGET}").alias("bin"),
    )
    return binned.groupBy("day").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.countDistinct("bin").alias("n_bins"),
        F.sum(
            F.when(F.col("bytes") < _COMPACT_SMALL, 1).otherwise(0)
        ).cast("long").alias("small_files"),
        F.expr(
            "CAST((count(*) - count(DISTINCT bin)) * 1000000 div count(*) "
            "AS BIGINT)"
        ).alias("reduction_ppm"),
    )


# ---------------------------------------------------------------------------
# Merkle-chain integrity digest of the event lake (hour -> day -> root)
# ---------------------------------------------------------------------------

@_register(
    "merkle_chain_events_daily",
    """
    WITH leaves AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(hour(ts) AS INTEGER) AS hr,
             event_id,
             md5(CAST(event_id AS VARCHAR) || '|'
                 || CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR) || '|'
                 || CAST(user_id AS VARCHAR) || '|' || event_type || '|'
                 || CAST(CAST(floor(value * 10000) AS BIGINT) AS VARCHAR)
                 || '|' || coalesce(props, '')) AS rh
      FROM events
    ),
    hours AS (
      SELECT day, hr, CAST(count(*) AS BIGINT) AS n_rows,
             list_reduce(list_prepend('', list(rh ORDER BY event_id)),
                         (a, b) -> md5(a || b)) AS digest
      FROM leaves GROUP BY 1, 2
    ),
    days AS (
      SELECT day, CAST(sum(n_rows) AS BIGINT) AS n_rows,
             list_reduce(list_prepend('', list(digest ORDER BY hr)),
                         (a, b) -> md5(a || b)) AS digest
      FROM hours GROUP BY 1
    ),
    root AS (
      SELECT CAST(NULL AS DATE) AS day,
             CAST(sum(n_rows) AS BIGINT) AS n_rows,
             list_reduce(list_prepend('', list(digest ORDER BY day)),
                         (a, b) -> md5(a || b)) AS digest
      FROM days
    )
    SELECT day, n_rows, digest FROM days
    UNION ALL
    SELECT day, n_rows, digest FROM root
    """,
    "Merkle-chain integrity digest of the event lake — the tamper-"
    "evidence / replication-verification primitive (compare "
    "digests, not data, across replicas or before/after a "
    "migration): every row hashes its full field tuple, hour "
    "partitions chain row hashes in event-id order, day digests "
    "chain the 24 hour digests, and a corpus root chains the days "
    "— any flipped bit anywhere changes its whole path to the "
    "root, and two clusters can verify a 100 TB table by "
    "exchanging one row per partition. Leaf chains are the per-"
    "partition sequential scan any digest requires; the two upper "
    "levels are constant-sized. Bit-exact across engines because "
    "md5 of identical strings is identical.",
    ("quality", "integrity", "lake", "events"),
)
def merkle_chain_events_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    rh = F.md5(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.floor(F.col("value") * 10000).cast("long").cast("string"),
            F.coalesce(F.col("props"), F.lit("")),
        ).cast("binary")
    )
    leaves = e.select(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").cast("int").alias("hr"),
        "event_id",
        rh.alias("rh"),
    )
    hours = leaves.groupBy("day", "hr").agg(
        F.count("*").alias("n_rows"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_id", "rh"))),
            F.lit(""),
            lambda a, x: F.md5(F.concat(a, x["rh"]).cast("binary")),
        ).alias("digest"),
    )
    days = hours.groupBy("day").agg(
        F.sum("n_rows").alias("n_rows"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("hr", "digest"))),
            F.lit(""),
            lambda a, x: F.md5(F.concat(a, x["digest"]).cast("binary")),
        ).alias("digest"),
    ).localCheckpoint(eager=False)
    root = days.agg(
        F.sum("n_rows").alias("n_rows"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "digest"))),
            F.lit(""),
            lambda a, x: F.md5(F.concat(a, x["digest"]).cast("binary")),
        ).alias("digest"),
    ).select(
        F.lit(None).cast("date").alias("day"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "digest",
    )
    return days.select(
        "day", F.col("n_rows").cast("long").alias("n_rows"), "digest"
    ).unionAll(root)


_ENC_RG = 1000  # row-group size in orderkeys
_ENC_COLS = (
    ("l_returnflag", 1),
    ("l_linestatus", 1),
    ("l_suppkey", 8),
    ("l_partkey", 8),
)


def _enc_one_sql(col: str, width: int) -> str:
    return f"""
    SELECT '{col}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT v) AS BIGINT) AS ndv,
           CAST(sum(chg) AS BIGINT) AS n_runs,
           CAST(count(*) * {width} AS BIGINT) AS plain_bytes,
           CAST(count(*)
                * ((CAST(ceil(ln(CAST(greatest(count(DISTINCT v), 2)
                                     AS DOUBLE)) / ln(2.0)) AS BIGINT)
                    + 7) // 8)
                + count(DISTINCT v) * {width} AS BIGINT) AS dict_bytes,
           CAST(sum(chg) * ({width} + 4) AS BIGINT) AS rle_bytes
    FROM (
      SELECT v,
             CASE WHEN v = lag(v) OVER (PARTITION BY rg
                                        ORDER BY l_orderkey, l_linenumber,
                                                 l_partkey, l_suppkey)
                  THEN 0 ELSE 1 END AS chg
      FROM (
        SELECT CAST({col} AS VARCHAR) AS v,
               l_orderkey // {_ENC_RG} AS rg,
               l_orderkey, l_linenumber, l_partkey, l_suppkey
        FROM lineitem
      )
    )
    """


@_register(
    "encoding_size_estimator_lineitem",
    "\nUNION ALL\n".join(_enc_one_sql(c, w) for c, w in _ENC_COLS),
    "Columnar encoding size estimator — the storage-format design "
    "audit behind every parquet writer decision: per column, exact "
    "row/NDV/run counts feed the three textbook encodings (plain = "
    "n x width; dictionary = n x packed-index bits + dictionary; "
    "RLE = runs x (width + run-length header)), with runs counted "
    f"ROW-GROUP-LOCALLY (groups of {_ENC_RG} orderkeys) exactly as "
    "a columnar writer would — the change-detection window "
    "partitions by row group, so no global sort exists at any "
    "scale. Low-cardinality flags should pick dictionary/RLE and "
    "high-cardinality keys plain, and the numbers say by how much "
    "— the physical-layout companion to `zorder_pruning_audit` "
    "(row order) and `compaction_bin_packing_plan` (file sizes).",
    ("layout", "encoding", "storage", "lineitem"),
)
def encoding_size_estimator_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").localCheckpoint(eager=False)
    out = None
    for col, width in _ENC_COLS:
        base = li.select(
            F.col(col).cast("string").alias("v"),
            F.expr(f"l_orderkey div {_ENC_RG}").alias("rg"),
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
        )
        w = Window.partitionBy("rg").orderBy(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
        )
        chg = F.when(F.col("v") == F.lag("v").over(w), 0).otherwise(1)
        stats = base.select("v", chg.alias("chg")).agg(
            F.count("*").alias("n"),
            F.countDistinct("v").alias("ndv"),
            F.sum("chg").alias("runs"),
        )
        idx_bytes = (
            (
                F.ceil(
                    F.log(F.greatest(F.col("ndv"), F.lit(2)).cast("double"))
                    / math.log(2.0)
                ).cast("long")
                + 7
            )
            / 8
        ).cast("long")
        one = stats.select(
            F.lit(col).alias("column_name"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("ndv").cast("long").alias("ndv"),
            F.col("runs").cast("long").alias("n_runs"),
            (F.col("n") * width).cast("long").alias("plain_bytes"),
            (F.col("n") * idx_bytes + F.col("ndv") * width)
            .cast("long")
            .alias("dict_bytes"),
            (F.col("runs") * (width + 4)).cast("long").alias("rle_bytes"),
        )
        out = one if out is None else out.unionAll(one)
    return out


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-hash cut points) + dedup potential
# ---------------------------------------------------------------------------

_CDC_W = 8          # rolling window chars
_CDC_B = 257        # polynomial base
_CDC_M = 1_000_003  # modulus
_CDC_MASK = 64      # expected chunk size ~ 64 chars

_CDC_HASH = " + ".join(
    f"CAST(ascii(substr(s, i + {k}, 1)) AS BIGINT) * {_CDC_B ** k % _CDC_M}"
    for k in range(_CDC_W)
)


@_register(
    "content_defined_chunking_documents",
    f"""
    WITH base AS (
      SELECT doc_id, lower(text) AS s FROM documents
      WHERE length(text) > {_CDC_W}
    ),
    cuts AS (
      SELECT doc_id, s,
             list_filter(
               list_transform(generate_series(1, length(s) - {_CDC_W}),
                 i -> CASE WHEN ({_CDC_HASH}) % {_CDC_M} % {_CDC_MASK} = 0
                      THEN i + {_CDC_W - 1} ELSE 0 END),
               x -> x > 0) AS cutpos
      FROM base
    ),
    bounds AS (
      SELECT doc_id, s,
             list_prepend(CAST(0 AS BIGINT),
               list_append(cutpos, CAST(length(s) AS BIGINT))) AS bs
      FROM cuts
    ),
    chunks AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(bs) - 1),
               j -> md5(substr(s, CAST(bs[j] + 1 AS INTEGER),
                               CAST(bs[j + 1] - bs[j] AS INTEGER)))))
               AS chash,
             unnest(list_transform(generate_series(1, len(bs) - 1),
               j -> bs[j + 1] - bs[j])) AS clen
      FROM bounds
    )
    SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chash) AS BIGINT) AS distinct_chunks,
           CAST(sum(clen) AS BIGINT) AS total_chars,
           CAST(sum(clen) // count(*) AS BIGINT) AS avg_chunk_chars,
           CAST((count(*) - count(DISTINCT chash)) * 1000000
                // count(*) AS BIGINT) AS dedup_ppm
    FROM chunks
    """,
    "Content-defined chunking — the storage-dedup primitive behind "
    "restic/borg/LBFS: a polynomial rolling hash over "
    f"{_CDC_W}-char windows (base {_CDC_B} mod {_CDC_M}, generated "
    "as identical integer arithmetic in both engines) cuts "
    f"wherever hash %% {_CDC_MASK} == 0 — so chunk boundaries "
    "FOLLOW CONTENT and survive insertions that would shift every "
    "fixed-size block. Chunks hash with md5 and the corpus report "
    "(chunk count, distinct chunks, duplicated-chunk ppm) is the "
    "dedup-potential estimate a backup or artifact store quotes. "
    "Scan-local per document (window hashes via one in-row "
    "transform); only chunk hashes shuffle for the distinct count.",
    ("storage", "dedup", "chunking", "documents"),
)
def content_defined_chunking_documents(spark, sf_dir):
    from ...operators.scale import spread_for_compute

    d = _t(spark, sf_dir, "documents")
    # the rolling-hash window fold is heavy per-row expression work
    # that inherits the scan's single fixture split — spread first
    base = spread_for_compute(
        d.select("doc_id", F.lower(F.col("text")).alias("s"))
    ).filter(F.length("s") > _CDC_W)

    # substr(s, i, 1) costs O(i) on UTF8 strings — a quadratic trap
    # on long docs. Split once into an int code array; element_at is
    # O(1), so the whole rolling-hash pass is linear.
    codes = F.transform(
        F.split(F.col("s"), ""), lambda c: F.ascii(c).cast("long")
    )

    def win_hash(i, carr):
        acc = None
        for k in range(_CDC_W):
            term = F.element_at(carr, i + k) * ((_CDC_B ** k) % _CDC_M)
            acc = term if acc is None else acc + term
        return acc

    base = base.withColumn("codes", codes)
    cutpos = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.length("s") - _CDC_W),
            lambda i: F.when(
                win_hash(i, F.col("codes")) % _CDC_M % _CDC_MASK == 0,
                (i + (_CDC_W - 1)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        lambda x: x > 0,
    )
    bounds = base.select(
        "doc_id",
        "s",
        F.concat(
            F.array(F.lit(0).cast("long")),
            cutpos,
            F.array(F.length("s").cast("long")),
        ).alias("bs"),
    )
    chunks = bounds.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("bs") - 1),
                lambda j: F.struct(
                    F.md5(
                        F.col("s")
                        .substr(
                            (F.element_at(F.col("bs"), j) + 1).cast("int"),
                            (
                                F.element_at(F.col("bs"), j + 1)
                                - F.element_at(F.col("bs"), j)
                            ).cast("int"),
                        )
                        .cast("binary")
                    ).alias("chash"),
                    (
                        F.element_at(F.col("bs"), j + 1)
                        - F.element_at(F.col("bs"), j)
                    ).alias("clen"),
                ),
            )
        ).alias("c"),
    ).select(F.col("c.chash").alias("chash"), F.col("c.clen").alias("clen"))
    return chunks.agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("chash").alias("distinct_chunks"),
        F.sum("clen").cast("long").alias("total_chars"),
        F.expr("sum(clen) div count(*)").cast("long").alias(
            "avg_chunk_chars"
        ),
        F.expr(
            "CAST((count(*) - count(DISTINCT chash)) * 1000000 div count(*)"
            " AS BIGINT)"
        ).alias("dedup_ppm"),
    )


_N_BUCKETS = 8


@_register(
    "bucketed_join_exchange_free",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    "Bucketed co-located join (the 100 TB shuffle-elimination "
    "contract): orders and customer are WRITTEN as 8-bucket tables "
    "on their join key (bucketBy + sortBy through the session "
    "catalog), then merge-joined — the bucketed scans satisfy the "
    "join's distribution requirement so NEITHER side exchanges "
    "(plan-pinned in tests/test_plan_lint.py; the only shuffle left "
    "is the final per-segment aggregate). Revenue uses the stable "
    "floor-to-cents fold so the DuckDB twin matches bit-for-bit",
    ("join", "storage", "layout", "bucketed-write", "tpch"),
)
def bucketed_join_exchange_free(spark, sf_dir):
    import re

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # STABLE per-(sf, session) location + session-unique table names:
    # a fresh mkdtemp per invocation leaked orders+customer copies on
    # every bench sweep (DROP TABLE on an external table keeps the
    # data dir), and fixed global names race if two sessions share a
    # metastore. Overwrite-in-place at a deterministic path instead.
    sf_tag = re.sub(r"[^A-Za-z0-9]+", "_", os.path.abspath(sf_dir)).strip("_")
    app_tag = re.sub(
        r"[^A-Za-z0-9]+", "_", spark.sparkContext.applicationId
    ).strip("_")
    base = os.path.join(
        tempfile.gettempdir(), f"bucketed_join_{sf_tag}_{app_tag}"
    )
    t_orders = f"bkt_orders_{app_tag}"
    t_customer = f"bkt_customer_{app_tag}"
    for name in (t_orders, t_customer):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        o.write.bucketBy(_N_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(base, "orders"))
        .mode("overwrite")
        .saveAsTable(t_orders)
    )
    (
        c.write.bucketBy(_N_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(base, "customer"))
        .mode("overwrite")
        .saveAsTable(t_customer)
    )
    ob = spark.table(t_orders)
    cb = spark.table(t_customer)
    return (
        ob.hint("merge")
        .join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            (F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)) / 100)
            .cast("double")
            .alias("revenue"),
        )
    )
