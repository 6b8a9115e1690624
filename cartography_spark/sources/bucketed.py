"""Bucketed table layout — shuffle-free co-located joins.

The catalog's hot join keys (fact-to-fact joins like lineitem-orders on
orderkey, or node/edge tables on tenant id) can be persisted bucketed:
``bucketBy(n, key)`` hash-partitions rows into a fixed number of files
per partition at WRITE time, so a later join of two tables bucketed the
same way needs NO Exchange on either side — the shuffle is paid once at
ingest instead of on every query. This is the Spark-native equivalent of
the reference pre-building Neo4j indexes on the join keys before every
load (cartography/client/core/tx.py:700-745): both move join cost out of
the read path.

At 100 TB: pick n_buckets so each bucket file lands in the 128-512 MB
range, bucket the biggest fact tables on their dominant join key, and
`sortBy` the same key so the sort-merge join also skips its Sort. Local
tests verify the Exchange-free plan shape at tiny scale — the plan is
identical at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str, n_buckets: int) -> None:
    """Persist ``df`` as a parquet catalog table bucketed and sorted by
    ``bucket_col``."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket keys.
    Forces the merge strategy so the bucketed layout (not a broadcast)
    is what makes the plan exchange-free — at real scale both sides are
    too big to broadcast anyway."""
    lt = spark.table(left_table).hint("merge")
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])
