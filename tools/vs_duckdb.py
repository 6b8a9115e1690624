"""Spark-vs-DuckDB throughput comparison on identical queries.

For each headline registry query that has a DuckDB oracle, run BOTH engines
at the same scale factor (default sf0.1) with best-of-3 timing:

- Spark: the registry DataFrame plan, materialized via the noop sink
  (full distributed execution, no driver Row materialization).
- DuckDB: the oracle SQL (the same result set, hash-verified equal by
  tools/oracle_check.py), fetched with fetchall on a 32-thread connection.

This is the "matches-or-beats the reference's single-node throughput"
check: DuckDB is the strongest available single-node stand-in (the
reference itself publishes no benchmarks — BASELINE.md), so beating it
while scaling out is strictly stronger evidence than beating Neo4j writes.

Usage: PYTHONPATH=. python tools/vs_duckdb.py [sf_dir] [name ...]
Prints one JSON line per query + a summary line.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cartography_spark.sources.parquet import TPCH_TABLES  # noqa: E402

DEFAULT_QUERIES = [
    "multihop_join_revenue",
    "agg_pricing_summary",
    "exists_semijoin",
    "top1_per_group",
    "supplier_wait_chain",
    "order_count_distribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "text_token_stats",
    "tfidf_quantized",
    "similarity_token_cosine_pairs",
    "graph_triangle_count",
    "graph_kcore",
    "outlier_zscore_exact",
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = [a for a in args if not os.path.isdir(a)] or DEFAULT_QUERIES

    import duckdb

    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    from cartography_spark.session import get_spark

    spark = get_spark("vs_duckdb")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute(f"SET threads={os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in TPCH_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # warm both engines
    REGISTRY["agg_pricing_summary"].spark(spark, sf_dir).collect()
    con.execute("SELECT count(*) FROM lineitem").fetchall()

    rows = []
    for name in names:
        spec = REGISTRY.get(name)
        if spec is None or spec.oracle is None:
            continue
        s_best = d_best = float("inf")
        for _ in range(3):
            t0 = time.time()
            spec.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
            s_best = min(s_best, time.time() - t0)
            gc.collect()
        for _ in range(3):
            t0 = time.time()
            con.execute(spec.oracle).fetchall()
            d_best = min(d_best, time.time() - t0)
        rec = {
            "query": name,
            "spark_s": round(s_best, 3),
            "duckdb_s": round(d_best, 3),
            "speedup": round(d_best / s_best, 2),
        }
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    total_s = sum(r["spark_s"] for r in rows)
    total_d = sum(r["duckdb_s"] for r in rows)
    print(
        json.dumps(
            {
                "summary": "spark_vs_duckdb",
                "sf_dir": sf_dir,
                "queries": len(rows),
                "spark_total_s": round(total_s, 2),
                "duckdb_total_s": round(total_d, 2),
                "overall_speedup": round(total_d / total_s, 2) if total_s else None,
            }
        )
    )


if __name__ == "__main__":
    main()
