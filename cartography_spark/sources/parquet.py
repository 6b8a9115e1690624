"""Parquet scan source.

The reference's "get" stage paginates provider APIs into ``list[dict]``
(cartography/intel/aws/ec2/instances.py:95-109); our batch inputs are
columnar parquet scans, which Catalyst serves with predicate pushdown and
column pruning for free. Keep ``spark.read.parquet`` declarative — never
collect-and-recreate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.session import memo

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes the events table's NANOS
    timestamps (illegal for Spark's vectorized parquet reader) to a proper
    TimestampType column via integer division — ``ts DIV 1000`` keeps exact
    long arithmetic (a double divide would lose microseconds at 1.7e18 ns).

    The lazy frame is memoized per application (``session.memo``):
    ``spark.read.parquet`` re-lists the directory and re-reads parquet
    footers on every call (~0.1 s locally), which multi-table query builders
    and the 23-fact rules corpus paid dozens of times per plan build. Only
    the lazy scan plan is kept — no rows, no persisted blocks: every action
    still computes from the parquet files (the same contract as Spark's own
    per-session file-index cache).
    """
    return memo(spark, ("table", sf_dir, name), lambda: _read_table(spark, sf_dir, name))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes)["ts"] == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # already a physical timestamp (possibly NTZ); session tz is UTC so the
    # cast is value-preserving and gives downstream windows/watermarks the
    # TimestampType they expect
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))
