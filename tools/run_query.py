"""Run any registry query from the command line.

    python tools/run_query.py <name> [--sf DIR] [--explain] [--oracle]
                              [--limit N]
    python tools/run_query.py --list [--tag TAG]

--explain prints the formatted physical plan instead of rows;
--oracle also runs the DuckDB oracle side-by-side for eyeballing.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark import get_session
from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import (
    REGISTRY,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", nargs="?")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--tag", default=None)
    args = ap.parse_args()

    by_name = {q.name: q for q in REGISTRY}
    if args.list or not args.name:
        for q in REGISTRY:
            if args.tag and args.tag not in q.tags:
                continue
            mark = "O" if q.oracle else "R"
            print(f"[{mark}] {q.name:38s} {', '.join(q.tags)}")
        return

    q = by_name.get(args.name)
    if q is None:
        sys.exit(f"unknown query {args.name!r}; --list to enumerate")

    spark = get_session("run-query")
    df = q.builder(spark, args.sf)
    if args.explain:
        df.explain("formatted")
        return
    df.show(args.limit, truncate=False)
    print(f"({df.count()} rows total)")

    if args.oracle and q.oracle:
        import duckdb

        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
            )
        print("--- DuckDB oracle ---")
        from streaming_pipeline___spark_stream_and_kafla_for_cassendra_spark.plans.registry import resolve_oracle
        print(con.sql(resolve_oracle(q)).limit(args.limit))


if __name__ == "__main__":
    main()
