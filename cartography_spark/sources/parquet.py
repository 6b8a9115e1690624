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


# Lazy-DataFrame memo per (application, sf_dir, table). `spark.read.parquet`
# re-lists the directory and re-reads parquet footers on EVERY call (~0.1 s
# per call locally); multi-table query builders and the 23-fact rules corpus
# paid that dozens of times per plan build. The memo holds only the LAZY
# scan plan — no rows, no persisted blocks: every action still computes from
# the parquet files (same contract as Spark's own per-session file-index
# cache, guide §6 "file listing"). Keyed by applicationId so a restarted
# context never sees another context's plans.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes the events table's NANOS
    timestamps (illegal for Spark's vectorized parquet reader) to a proper
    TimestampType column via integer division — ``ts DIV 1000`` keeps exact
    long arithmetic (a double divide would lose microseconds at 1.7e18 ns).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    got = _TABLE_MEMO.get(key)
    if got is not None:
        return got
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(raw.dtypes)["ts"]
        if ts_type == "bigint":
            df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        else:
            # already a physical timestamp (possibly NTZ); session tz is UTC
            # so the cast is value-preserving and gives downstream windows/
            # watermarks the TimestampType they expect
            df = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_MEMO[key] = df
    return df

