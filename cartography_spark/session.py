"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the configs below are the
ones that matter at cluster scale too: AQE (runtime re-planning + skew-join
handling), adaptive broadcast selection, and Arrow for any Pandas-UDF path.
The generated-class cache is sized to the engine's working set (a lifecycle
pass generates ~540 classes, the inventory queries ~250), not Spark's 100,
and generated class names leave out the whole-stage codegen stage id, so a
class is compiled once per session instead of once per query that follows
an eviction or numbers the same pipeline differently.

State that outlives a query has one lifetime rule. A frame an operator
persists is released before its query returns (``finalize_iterative``).
A value deliberately reused by later queries is kept per Spark application
through ``memo``, and a directory written for such a value sits under the
driver's ``SparkFiles`` root, which ``SparkContext.stop`` deletes.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def finalize_iterative(df, *caches):
    """Close out an iterative operator: checkpoint the result (bounds the
    returned plan) and unpersist the iteration caches, so nothing it
    persisted outlives the query."""
    df = df.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return df


# Values built by one query and reused by later queries of the same Spark
# application (lazy scan plans, fixture catalogs, index builds, written
# inputs): (applicationId, key) -> value. A restarted context never sees
# another context's values.
_MEMO: dict[tuple[str, Any], Any] = {}


def memo(spark: SparkSession, key: Any, build: Callable[[], Any]) -> Any:
    """The value stored under ``key`` for this Spark application, calling
    ``build()`` to make it on the first request."""
    k = (spark.sparkContext.applicationId, key)
    if k not in _MEMO:
        _MEMO[k] = build()
    return _MEMO[k]


def shuffle_partition_count(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``sparkContext.defaultParallelism`` when the conf is non-numeric
    (e.g. Databricks sets it to ``"auto"`` under AQE). Unset, it reads
    Spark's default: an explicit fallback would be type-checked and raise.
    """
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


# ThreadPoolExecutor's own default ceiling; the calls are small Spark jobs
# waiting on the scheduler, not Python work.
MAX_CALL_THREADS = 32


def run_concurrently(spark: SparkSession, calls: Sequence[Callable[[], Any]]) -> list[Future]:
    """Run each call on its own thread (at most ``MAX_CALL_THREADS``) and
    return their futures, in call order, once every call has finished.

    Each call runs with the caller's local properties (job group, scheduler
    pool) and session tags, so its jobs are attributed and cancelled with the
    caller's. Spark's FIFO scheduler then fills the cores one small job's
    stages leave idle with the next call's tasks. Nothing is still running
    when this returns, whether or not a call failed; ``result()`` on a
    future re-raises its failure.
    """
    with ThreadPoolExecutor(max_workers=max(1, min(len(calls), MAX_CALL_THREADS))) as pool:
        return [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]


# Driver heap ceiling, and the default when the host's memory is unknown.
MAX_DRIVER_MEM_MB = 24 * 1024


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else 60%
    of the host's MemTotal, at most ``MAX_DRIVER_MEM_MB``. Local mode runs
    every executor inside the driver JVM, so a heap larger than the host
    lets the OOM killer take the JVM instead of Spark spilling."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open(meminfo) as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(total_kb * 6 // 10 // 1024, MAX_DRIVER_MEM_MB)}m"


# ``spark.sql.codegen.cache.maxEntries``: Spark's 100 is smaller than one
# lifecycle pass (~540 generated classes) or one inventory pass (~250), so
# its LRU evicted every class before the next pass reused it and each warm
# inventory pass recompiled ~245 of them. 1000 holds a whole lifecycle pass.
CODEGEN_CACHE_ENTRIES = 1000


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far: one per miss
    of the generated-class cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(app_name: str = "cartography-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # runtime broadcast-join conversion — all essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDFs / mapInPandas (vectorized exchange).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local test files are single-digit-MB parquet; the 128MB default
        # split size would hand whole tables to one task. 2MB keeps scans
        # parallel here (still bounded by parquet row groups); on a real
        # cluster with TB-scale inputs raise this back to 128-256MB.
        .config("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The stage id is a per-query counter that AQE advances in the order
        # it plans stages, so with it in the class name one pipeline became
        # a new class in each query or pass that numbered it differently
        # (a cold lifecycle pass compiled 525 classes with it, 335 without).
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
