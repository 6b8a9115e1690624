"""CSV and ORC sources/sinks — the remaining batch interchange formats a
catalog engine meets in practice (the reference ingests CSV-shaped API
exports such as AWS credential reports, cartography/intel/aws/iam.py; ORC
is the other columnar format warehouse peers hand over).

Same rules as the parquet/JSONL sources: explicit schema on read (no
inference pass), partitionBy on write, compression on by default. CSV is
a row format — no predicate pushdown, no column pruning at the scan — so
``csv_to_parquet`` is the first step of any pipeline that will read the
data more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Read CSV with an explicit DDL schema (inference = an extra full
    scan, never at scale). Malformed rows land in PERMISSIVE nulls."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar, so Catalyst pushes filters and prunes columns
    exactly as with parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def csv_to_parquet(spark: SparkSession, csv_path: str, parquet_path: str, schema: str) -> None:
    """One-shot columnarization: read row-format CSV once, write parquet
    so every later scan gets pushdown/pruning."""
    read_csv(spark, csv_path, schema=schema).write.mode("overwrite").parquet(parquet_path)


def compact_parquet(
    spark, in_path: str, out_path: str, target_rows_per_file: int = 1_000_000
) -> int:
    """Small-file compaction: rewrite a parquet table into
    ceil(n / target_rows_per_file) evenly-sized files. The operational
    maintenance pass every long-lived 100 TB table needs — streaming
    sinks and per-tenant batch appends accrete kilobyte files whose
    per-file open/footer cost eventually dominates scans. A round-robin
    repartition (no shuffle key — pure rebalance) keeps sizes even
    regardless of input skew. Returns the file count written."""
    import math

    df = spark.read.parquet(in_path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(files).write.mode("overwrite").parquet(out_path)
    out = spark.read.parquet(out_path)
    return len([f for f in out.inputFiles()])
