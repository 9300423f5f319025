"""Local twin of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle over the
same parquet tables, then compares row count + sorted-column value
content (order-insensitive). Usage:

    python tools/oracle_compare.py [sf_dir] [name ...]

Besides the human report (/tmp/oracle_compare.txt), a machine-
readable per-query ledger is written to the path in
``$ORACLE_LEDGER_OUT`` (default /tmp/oracle_full.json): one entry
per query with status ok|rows_only|fail, row count, and the failure
reason — the committed ``ORACLE_FULL_r{N}.json`` artifact.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import get_session
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
    REGISTRY,
    resolve_oracle,
)
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.sources.tables import (
    TABLES,
)


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )
    return [sorted(cols)] + out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    report = open("/tmp/oracle_compare.txt", "w")

    def emit(msg):
        print(msg)
        report.write(msg + "\n")
        report.flush()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_session("oracle-compare")

    failures = []
    ledger: dict[str, dict] = {}

    def record(name, status, n_rows=None, reason=None):
        e = {"status": status}
        if n_rows is not None:
            e["rows"] = n_rows
        if reason is not None:
            e["reason"] = reason[:300]
        ledger[name] = e

    for q in REGISTRY:
        if only and q.name not in only:
            continue
        try:
            sdf = q.builder(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            emit(f"FAIL  {q.name}: spark error: {exc}")
            failures.append(q.name)
            record(q.name, "fail", reason=f"spark error: {exc}")
            continue
        oracle = resolve_oracle(q) if q.oracle is not None else None
        if oracle is None:
            emit(f"rows  {q.name}: {len(srows)} rows (no oracle)")
            if len(srows) == 0 and "maybe_empty" not in q.tags:
                emit(f"      WARNING: zero rows")
            record(q.name, "rows_only", n_rows=len(srows))
            continue
        try:
            res = con.execute(oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            emit(f"FAIL  {q.name}: duckdb error: {exc}")
            failures.append(q.name)
            record(q.name, "fail", reason=f"duckdb error: {exc}")
            continue
        if sorted(scols) != sorted(ocols):
            emit(f"FAIL  {q.name}: columns differ\n  spark={sorted(scols)}\n  duck ={sorted(ocols)}")
            failures.append(q.name)
            record(q.name, "fail", reason="columns differ")
            continue
        sn, on_ = _norm_rows(scols, srows), _norm_rows(ocols, orows)
        if len(srows) != len(orows):
            emit(f"FAIL  {q.name}: rowcount spark={len(srows)} duck={len(orows)}")
            failures.append(q.name)
            record(
                q.name,
                "fail",
                reason=f"rowcount spark={len(srows)} duck={len(orows)}",
            )
            continue
        if sn != on_:
            diff = [
                (a, b) for a, b in zip(sn[1:], on_[1:]) if a != b
            ][:3]
            emit(f"FAIL  {q.name}: value mismatch; first diffs:")
            for a, b in diff:
                emit(f"   spark: {a}\n   duck : {b}")
            failures.append(q.name)
            record(q.name, "fail", reason="value mismatch")
            continue
        emit(f"OK    {q.name}: {len(srows)} rows")
        record(q.name, "ok", n_rows=len(srows))

    emit(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    out_path = os.environ.get("ORACLE_LEDGER_OUT", "/tmp/oracle_full.json")
    counts = {
        s: sum(1 for e in ledger.values() if e["status"] == s)
        for s in ("ok", "rows_only", "fail")
    }
    with open(out_path, "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "generated_unix": int(time.time()),
                "n_queries": len(ledger),
                "summary": counts,
                "queries": ledger,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    emit(f"ledger: {out_path} {counts}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
