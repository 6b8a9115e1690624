"""The session's generated-class cache holds the engine's working set.

Spark's cache keeps 100 generated classes; the nine perfbench inventory
queries alone generate more than that, so with Spark's size the LRU evicted
each class before the next round reused it and every round recompiled them
(~245 at sf0.01). ``session.CODEGEN_CACHE_ENTRIES`` holds a whole round, and
class names without the per-query stage id let a round reuse a pipeline
that AQE numbered differently, so the second round compiles nothing.
"""

from __future__ import annotations

from cartography_spark.plans.registry import REGISTRY, all_queries
from cartography_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

# perfbench's inventory workload: six scan/join/window plans, three fixpoint loops
QUERIES = (
    "multihop_join_revenue", "agg_pricing_summary", "top1_per_group",
    "lag_window_delta", "tpch_q9_product_profit", "cdc_apply_changelog",
    "graph_pagerank", "variable_length_closure", "dedup_embedding_collapsed",
)
SPARK_DEFAULT_ENTRIES = 100


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    # a per-query stage id in the class name makes one pipeline many classes
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_second_round_compiles_nothing(spark, sf_dir):
    all_queries()

    def compiles_per_round() -> int:
        before = codegen_compiles(spark)
        for q in QUERIES:
            REGISTRY[q].spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return codegen_compiles(spark) - before

    first = compiles_per_round()
    # more classes than Spark's cache holds: its size would evict them
    assert first > SPARK_DEFAULT_ENTRIES
    assert compiles_per_round() == 0
