"""Hypertable-style continuous aggregate: multi-resolution time rollups
where each coarser level is REAGGREGATED from the finer level's partial
state, never from raw rows.

The partial state per bucket is (count, sum, min, max) — all
associative, so hour = merge(minutes), day = merge(hours). At 100 TB
this is the whole point: the raw table is touched once (minute pass,
map-side combinable), and every coarser resolution costs only a shuffle
of the already-tiny finer aggregate (minutes -> hours is 60:1, hours ->
days 24:1). avg is derived as sum/count at read time — storing avg
itself would not merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_TO = 2

def _partials():
    return (
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("__v").alias("sum_value"),
        F.min("__v").alias("min_value"),
        F.max("__v").alias("max_value"),
    )


def _combined_partials():
    return (
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def minute_partials(events: DataFrame) -> DataFrame:
    """The single raw-data pass: per-minute mergeable partial state."""
    return (
        events.select(F.date_trunc("minute", F.col("ts")).alias("bucket"), F.col("value").alias("__v"))
        .groupBy("bucket")
        .agg(*_partials())
    )


def rollup_level(finer: DataFrame, unit: str) -> DataFrame:
    """Merge a finer level's partials into ``unit`` buckets (associative
    merge only — raw rows are never rescanned)."""
    return (
        finer.withColumn("bucket", F.date_trunc(unit, F.col("bucket")))
        .groupBy("bucket")
        .agg(*_combined_partials())
    )


def continuous_aggregate(events: DataFrame) -> dict[str, DataFrame]:
    """The minute -> hour -> day rollup hierarchy."""
    minute = minute_partials(events)
    hour = rollup_level(minute, "hour")
    day = rollup_level(hour, "day")
    return {"minute": minute, "hour": hour, "day": day}


def finalize(level: DataFrame) -> DataFrame:
    """Read-time projection: derive avg from the mergeable state."""
    return level.select(
        F.col("bucket"),
        F.col("n_events"),
        F.round(F.col("sum_value"), ROUND_TO).alias("total_value"),
        F.round(F.col("min_value"), ROUND_TO).alias("min_value"),
        F.round(F.col("max_value"), ROUND_TO).alias("max_value"),
        F.round(F.col("sum_value") / F.col("n_events"), ROUND_TO).alias("avg_value"),
    )
