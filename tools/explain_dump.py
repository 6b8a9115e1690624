"""Dump .explain("formatted") for named registry queries to files.

Usage: python tools/explain_dump.py <out_suffix> <query> [query ...]
Writes plans/r09/<query>_<out_suffix>.txt for each query.

The plan is captured at the sf in $SPARK_GRAFT_SF_DIR (default sf0.1) —
the same data the bench times — so Exchange counts / join strategies in
the dump are the ones the bench pays for. Queries whose builder runs
eager driver actions (rules rollup, iterative graph ops) execute those
during capture; the dump is still the plan of the RETURNED frame.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cartography_spark.plans.registry import REGISTRY, all_queries
    from cartography_spark.session import get_spark

    all_queries()
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r09")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spec = REGISTRY[name]
        df = spec.spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
