"""JSONL (newline-delimited JSON) source/sink — the lingua franca of
training-data pipelines (the reference's analogous surface is its
list[dict] ingestion, client/core/tx.py:637-698; JSONL is that, on disk).

Reading with an explicit schema keeps the scan single-pass (no inference
job) and missing keys become typed nulls; writing partitions by the
hash-based ``split`` from operators/sampling so downstream loaders read
one split without listing the others.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Read newline-delimited JSON; pass a DDL schema to skip the inference
    pass (mandatory at scale — inference reads the data twice)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write uncompressed newline-delimited JSON partitioned by ``split``;
    one file per task — control output file count with
    ``df.repartition(n)`` upstream."""
    df.write.mode("overwrite").partitionBy("split").json(path)
