"""Batch file-format ingestion (JSONL / CSV) with explicit schemas.

The reference's record contract is schemaless JSON on Kafka topics
(``cassandra-connector.json:12-15`` declares JSON without schemas;
the Debezium envelope is JSON too). For batch backfills a user lands
those same payloads as JSONL or CSV exports; these readers apply the
engine's declared-schema discipline (SURVEY §1.2 — no inference in
production paths) to file ingestion.

Scale notes: both readers keep Spark's native splittable text scan —
schema is supplied so no inference pass over the data; ``columnNameOfCorruptRecord``
routes malformed lines to a quarantine column instead of failing the
job (PERMISSIVE), matching the CDC path's poison-pill tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Line-delimited JSON with a declared schema (no inference scan).

    Malformed lines surface in ``_corrupt_record`` when
    ``keep_corrupt``; otherwise they are dropped (well-formed rows
    always survive either way)."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    if keep_corrupt:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
    keep_corrupt: bool = False,
) -> DataFrame:
    """CSV with a declared schema; same quarantine contract as
    :func:`read_jsonl`."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    if keep_corrupt:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC ingestion (columnar sibling of the parquet path; built into
    Spark, predicate pushdown + column pruning apply the same way).
    Schema optional — ORC carries one, but passing the declared schema
    enforces the engine's no-inference discipline on untrusted drops."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)

