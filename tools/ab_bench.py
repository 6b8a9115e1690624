"""Interleaved A/B benchmark: alternate two plan variants in ONE Spark
session so host noise (hypervisor steal-time, JVM warmup position, GC
pressure drift) hits both sides equally.

Twice now a round-over-round artifact delta turned out to be measurement
position, not a plan change (r3: q9/BM25 on the JIT-warmup shoulder; r4:
the minhash collapsed-loop fusion). Both times the resolution was an
ad-hoc interleaved A/B; this checks the method in.

Usage (from the repo root):

    python tools/ab_bench.py SPEC_A SPEC_B [--runs N] [--sf DIR]

A SPEC is one of
  * a registry query name            (e.g. ``dedup_minhash_collapsed``)
  * ``path/to/file.py:function``     (fn(spark, sf_dir) -> DataFrame)

Each run materializes through the noop sink (full distributed compute, no
driver Row materialization). One unmeasured warmup per side, then A,B
alternating ``--runs`` times each; prints per-run times and Janino compile
counts plus min/median per side and the min-vs-min verdict as one JSON
line. A run that compiles is paying for classes the generated-class cache
evicted (or never held), so its wall time is not plan cost alone. A run
that leaves a persisted frame in Spark's cache manager stops the A/B with
an error naming its spec, since the next run would time a read of that
frame instead of the plan.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def resolve(spec: str):
    """SPEC -> (label, fn(spark, sf_dir) -> DataFrame)."""
    if ":" in spec and (spec.split(":")[0].endswith(".py") or "/" in spec):
        path, _, fn_name = spec.rpartition(":")
        mod_spec = importlib.util.spec_from_file_location("_ab_variant", path)
        mod = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(mod)
        return f"{Path(path).stem}:{fn_name}", getattr(mod, fn_name)
    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    if spec not in REGISTRY:
        sys.exit(f"unknown spec {spec!r}: not a registry query or file.py:fn")
    return spec, REGISTRY[spec].spark


def _run_once(label: str, fn, spark, sf_dir: str) -> tuple[float, int]:
    """Wall seconds and Janino compiles of one run. Exits if the run leaves
    a persisted frame behind: the next run would time a read of it."""
    from cartography_spark.session import codegen_compiles

    c0, t0 = codegen_compiles(spark), time.time()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    dt, compiles = time.time() - t0, codegen_compiles(spark) - c0
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        sys.exit(f"{label}: the run left a persisted frame in the cache manager")
    # reclaim checkpointed RDD blocks before the other side's timing
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return dt, compiles


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("spec_a")
    ap.add_argument("spec_b")
    ap.add_argument("--runs", type=int, default=4, help="measured runs per side")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    label_a, fn_a = resolve(args.spec_a)
    label_b, fn_b = resolve(args.spec_b)

    from cartography_spark.session import get_spark

    spark = get_spark("ab_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # one unmeasured warmup each (JIT + parquet footer caches), in A,B order
    _run_once(label_a, fn_a, spark, args.sf)
    _run_once(label_b, fn_b, spark, args.sf)

    times_a: list[float] = []
    times_b: list[float] = []
    compiles_a: list[int] = []
    compiles_b: list[int] = []
    for i in range(args.runs):
        for label, fn, times, compiles in (
            (label_a, fn_a, times_a, compiles_a),
            (label_b, fn_b, times_b, compiles_b),
        ):
            dt, n = _run_once(label, fn, spark, args.sf)
            times.append(dt)
            compiles.append(n)
        print(
            f"round {i + 1}: {label_a} {times_a[-1]:.2f}s  {label_b} {times_b[-1]:.2f}s",
            file=sys.stderr,
        )

    min_a, min_b = min(times_a), min(times_b)
    # noise floor: within 5% min-vs-min is a tie
    verdict = "tie" if abs(min_a - min_b) <= 0.05 * max(min_a, min_b) else (
        label_a if min_a < min_b else label_b
    )
    print(
        json.dumps(
            {
                "a": {"spec": label_a, "runs": [round(t, 3) for t in times_a],
                      "min": round(min_a, 3), "median": round(statistics.median(times_a), 3),
                      "compiles": compiles_a},
                "b": {"spec": label_b, "runs": [round(t, 3) for t in times_b],
                      "min": round(min_b, 3), "median": round(statistics.median(times_b), 3),
                      "compiles": compiles_b},
                "faster": verdict,
                "sf_dir": args.sf,
            }
        )
    )


if __name__ == "__main__":
    main()
