"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "secondary": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the shuffle-heavy / join-heavy / UDF-adjacent queries that
# dominate cost at scale. Keep in sync with the registry. Near-dup tracking
# uses the COLLAPSED cluster contracts (the variants a 100 TB run would
# execute — linear in duplication factor); the raw pair-list contracts are
# quadratic under exact-dup replication BY CONTRACT (the output is the pair
# list) and are tracked in SECONDARY so regressions are still caught without
# letting a shape users would never run at scale dominate the headline total.
HEADLINE = [
    "multihop_join_revenue",
    "agg_pricing_summary",
    "matchlink_edges",
    "one_to_many_membership_join",
    "top1_per_group",
    "lag_window_delta",
    "drift_set_difference",
    "events_tumbling_window",
    "higher_order_list_predicates",
    "upsert_lifecycle",
    "variable_length_closure",
    "dedup_exact",
    "dedup_minhash_collapsed",
    "dedup_embedding_collapsed",
    "dedup_simhash",
    "similarity_cosine_topk",
    "similarity_ann_ivf",
    "events_session_window",
    "text_token_stats",
    "incremental_agg_maintenance",
    "interval_overlap_pairs",
    "dedup_substring_spans",
    "similarity_pq_adc",
    "cdc_apply_changelog",
    "asof_join_nearest",
    "graph_label_propagation",
    "incremental_join_maintenance",
    "hybrid_search_rrf",
    "bpe_segmentation",
    "dsir_importance_resample",
    "text_nb_classifier",
    "graph_pagerank",
    "tpch_q9_product_profit",
    "text_bm25_topk",
    "text_char_entropy",
    "similarity_binary_hamming",
    "text_blockmax_index",
    # r6: the three heaviest r5 additions, promoted so sf1/sf5 artifacts give
    # them round-over-round regression visibility (r5 verdict item 3)
    "rules_framework_rollup",
    "contrastive_hard_negatives",
    "streaming_session_window",
    # r8: the three heaviest r8 additions, same promotion rationale
    "streaming_ks_drift",
    "sketch_quantile_bottomk",
    "job_okta_group_membership_cleanup",
]

# Measured and reported, but excluded from the headline total: raw pair-list
# near-dup contracts (quadratic under replication by contract — the collapsed
# variants above are the scale path for the same semantics).
SECONDARY = [
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
]


def _best_of_n(spec, spark, sf_dir: str) -> float:
    # the first runs pay JIT/codegen warmup, and the host shows hypervisor
    # steal-time spikes; measured warmup curves keep improving through run
    # 4-5 on join-heavy plans (e.g. 4.5 -> 1.1 -> 0.8 -> 0.7 -> 0.5), so
    # best-of-3 overstated some queries by ~1.5x round-over-round. Run 5
    # times, with an early exit once two consecutive runs show NO
    # improvement at all (a still-descending warmup curve — e.g. two
    # consecutive ~9% gains — must keep running, so stale only counts
    # runs that fail to beat the best). A deliberate 4-run floor (i >= 3)
    # applies on top: warmup curves keep descending through run 4-5, so
    # two early non-improvements are treated as noise, never as an exit.
    best = float("inf")
    stale = 0
    for i in range(5):
        t0 = time.time()
        # noop sink: full distributed computation without paying the
        # driver-side Row materialization for large results
        spec.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        if dt < best:
            best = dt
            stale = 0
        else:
            stale += 1
            if stale >= 2 and i >= 3:
                break
    # release checkpointed RDDs from lifecycle/dedup queries so their
    # executor memory doesn't GC-thrash the next measurement; the JVM
    # GC hint actually reclaims the unpersisted blocks before the next
    # timing starts (python gc only drops the driver-side references)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return best


def _prior_timings(sf) -> dict[str, float]:
    """Per-query timings from the most recent BENCH artifact at the same SF.

    Used to adjudicate host-epoch noise IN the artifact (VERDICT r7 item 2):
    any headline query breaching the ±30% band vs the prior round gets an
    immediate solo re-measure appended as ``solo_remeasure`` so a judge can
    separate plan regressions from batch-position noise without a session.

    Artifact lanes: driver ``BENCH_r{N}.json`` (bench output nested under a
    ``parsed`` key), builder ``BENCH_sf{X}_r{N}.json`` / ``BENCH_local_r{N}
    .json`` (bench output at top level). Candidates sort by round number
    NUMERICALLY (lexicographic glob order would put r9 after r10), driver
    lane first within a round since it is the canonical prior.
    """
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    candidates: list[tuple[int, int, str]] = []
    for path in glob.glob(os.path.join(repo, "BENCH_*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if m:
            is_driver = 1 if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(path)) else 0
            candidates.append((int(m.group(1)), is_driver, path))
    for _, _, path in sorted(candidates, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(doc, dict) and isinstance(doc.get("parsed"), dict):
            doc = doc["parsed"]  # driver artifact wraps the bench JSON line
        if (
            isinstance(doc, dict)
            and doc.get("sf") == sf
            and isinstance(doc.get("queries"), dict)
        ):
            return {**doc["queries"], **doc.get("secondary", {})}
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cartography_spark.plans.registry import REGISTRY, all_queries
    from cartography_spark.session import get_spark

    all_queries()
    # `bench.py q1 [q2 ...]` measures only the named registry queries
    # (headline or not) — single-query profiling without a bespoke script.
    only = sys.argv[1:]
    if only:
        unknown = [q for q in only if q not in REGISTRY]
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer caches
    REGISTRY["agg_pricing_summary"].spark(spark, sf_dir).collect()

    timings: dict[str, float] = {}
    total = 0.0
    for name in only or HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        best = _best_of_n(spec, spark, sf_dir)
        timings[name] = round(best, 3)
        total += best
    secondary: dict[str, float] = {}
    # the raw pair-list contracts are quadratic under exact-dup replication
    # BY CONTRACT; at high replication factors (sf5 rehearsal = 50 copies)
    # they would dominate the run without informing anything — skippable
    skip_secondary = only or os.environ.get("SPARK_GRAFT_SKIP_SECONDARY", "") == "1"
    for name in () if skip_secondary else SECONDARY:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        secondary[name] = round(_best_of_n(spec, spark, sf_dir), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Solo re-measure (VERDICT r7 item 2): any query whose batch time breached
    # the ±30% host-noise band vs the latest recorded round at this SF — in
    # EITHER direction; a 2x speedup is as suspicious as a 2x slowdown — is
    # re-run on its own (cold batch position, post-GC) and both numbers ship
    # in the artifact. Sub-0.15s pairs are exempt — at that magnitude a
    # single hypervisor steal-time spike IS the measurement.
    solo_remeasure: dict[str, dict[str, float]] = {}
    if not only:
        prior = _prior_timings(sf_val)
        for name, t in timings.items():
            p = prior.get(name)
            if p is None or max(t, p) < 0.15:
                continue
            if t > p * 1.3 or t < p * 0.7:
                solo_remeasure[name] = {
                    "batch_sec": t,
                    "prior_round_sec": p,
                    "solo_sec": round(_best_of_n(REGISTRY[name], spark, sf_dir), 3),
                }

    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "secondary": secondary,
                "solo_remeasure": solo_remeasure,
                "sf": sf_val,
                # measurement protocol + the A/B-validated noise model, so
                # round-over-round diffs separate plan regressions from host
                # variance without re-investigation (SCALE.md round-6 A/B:
                # interleaved runs of UNTOUCHED control queries drift the
                # same ±30% between host epochs as the queries under test)
                "method": "best-of-5 per query (early exit after 2 stale runs"
                ", min 4), noop sink, jvm+py gc between queries; queries "
                "breaching the band vs the prior round re-measured solo "
                "(see solo_remeasure)",
                "host_noise_band_pct": 30,
            }
        )
    )


if __name__ == "__main__":
    main()
