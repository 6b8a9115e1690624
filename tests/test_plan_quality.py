"""Physical-plan regression tests: the scale guarantees the operators are
designed around — predicate pushdown reaching the scan, column pruning,
broadcast joins for small dims, no accidental cartesian products — pinned
so a refactor can't silently regress them. (Assertions are kept robust to
Spark-version plan-format drift: presence/absence checks, not golden
strings.)"""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _registry():
    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    return REGISTRY


def test_pushdown_reaches_scan(spark):
    """The date-range filter of the multihop revenue query must be pushed
    into the parquet scan, and the lineitem scan must prune to the few
    referenced columns."""
    reg = _registry()
    plan = _plan(reg["multihop_join_revenue"].spark(spark, SF_SMOKE))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p and "GreaterThanOrEqual" in p for p in pushed)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li and all(len(s.split(",")) <= 6 for s in li)  # pruned, not SELECT *


def test_small_dims_broadcast(spark):
    """Dimension joins (region/nation/supplier at fixture scale) must be
    broadcast — a sort-merge join on a small dim means a wasted shuffle."""
    reg = _registry()
    plan = _plan(reg["multihop_join_revenue"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# Queries whose SEMANTICS are a theta/cross join (documented in their
# registry docstrings): the reference's cartesian-link operator, fuzzy
# CONTAINS matchers, and blocked similarity joins whose residual condition
# is non-equi by design. Everything else must hash-join.
_NESTED_LOOP_ALLOWED = {
    "cartesian_product_link",       # reference semantics: every src x dst
    "fuzzy_contains_join",          # CONTAINS theta join (querybuilder.py:712-714)
    "matchlink_scoped_cleanup",     # scoped matchlink includes a fuzzy mode
    "entity_resolution_fuzzy",      # blocked levenshtein (non-equi residual)
    "permission_wildcard_eval",     # principals x resources wildcard match
    "permission_statement_eval",
    "similarity_cosine_topk",       # brute-force baseline (documented O(n))
    "stats_kendall_tau_b",          # non-equi cell-pair self-join on the
                                    # domain-bounded |X|x|Y| contingency frame
                                    # (<= (50*7)^2 pairs at ANY data size)
}

# BroadcastNestedLoopJoin with a SCALAR/bounded build side: the standard
# plan for crossJoin(broadcast(one_row_aggregate)) — attaching a global
# count/total/threshold, or probing a constant-size spec table (IVF
# centroids, quantile specs, Bloom probes). Build side is O(1) rows by
# construction, so the "nested loop" is one broadcast variable read per
# row — scale-safe. Verified per query; new BNLs must justify themselves
# here or be fixed.
_SCALAR_ATTACH = {
    "tfidf_quantized",              # x broadcast(1-row corpus size N)
    "sketch_kmv_distinct",          # x broadcast(1-row exact count)
    "sketch_hll_distinct",          # x broadcast(1-row exact count)
    "sketch_countmin_heavy_hitters",  # x broadcast(1-row total)
    "sketch_histogram_quantiles",   # x broadcast(1-row total, 3-row q spec)
    "graph_triangle_count",         # x broadcast(1-row edge count)
    "cleanup_cascade",              # 1-row lineitem count x 1-row order count
                                    # (r8 opt §36: the two post-cascade counts
                                    # fused into one lazy action)
    "similarity_ann_ivf",           # probe x broadcast(constant centroid table)
    "similarity_token_cosine_pairs",  # x broadcast(1-row norm total)
    "bloom_prefilter_join",         # x broadcast(1-row bitset scalar)
    "cleanup_rel_only",             # x broadcast(1-row update-tag scalar)
    "text_unigram_logprob",         # x broadcast(1-row corpus token total)
    "similarity_int8_scan",         # x broadcast(1-row min/max arrays + 1-row query vec)
    "similarity_pq_adc",            # x broadcast(1-row codebook + 1-row query LUT)
    "streaming_hll_distinct",       # x broadcast(1-row exact count)
    "streaming_countmin_counts",    # x broadcast(4-row depth spec + 1-row total)
    "graph_modularity",             # x broadcast(1-row 2m / intra2 / sum_dc2 scalars)
    "similarity_ivf_pq",            # x broadcast(1-row codebooks + 1-row LUT/probes)
    "quality_decile_weights",       # x broadcast(1-row corpus token total, via unigram_surprisal)
    "sketch_kmv_intersection",      # x broadcast(1-row kth hash + 1-row exact count)
    "embedding_label_centroids",    # x broadcast(1-row min/max arrays, via int8_quantize)
    "retrieval_eval_ndcg",          # exact lane x broadcast(8-row query frame — constant by contract)
    "contrastive_hard_negatives",   # x broadcast(8-row anchor frame — same constant contract)
    "sketch_kmv_difference",        # x broadcast(1-row kth hash + 1-row exact count)
    "sync_metadata_merge",          # x broadcast(1-row skipped-stage count)
    "dataset_split_leakage_safe",   # x broadcast(1-row leaky-cluster count)
    "hybrid_search_rrf",            # x broadcast(1-row query-doc bigram norm)
    "dsir_importance_resample",     # x broadcast(1-row corpus/target totals)
    "text_nb_classifier",           # x broadcast(1-row doc total + n_labels-row class table)
    "classifier_calibration_bins",  # same NB attach as text_nb_classifier
    "classifier_ranking_auc",       # same NB attach as text_nb_classifier
    "privacy_t_closeness",          # x broadcast(1-row table total N)
    "sketch_hll_rollup_merge",      # x broadcast(1-row estimates + counts)
    "ks_drift_two_sample",          # x broadcast(1-row population totals)
    "psi_drift_binned",             # x broadcast(1-row totals + bin count)
    "conformal_interval_coverage",  # x broadcast(1-row n_cal + 1-row q_hat)
    "chi2_feature_selection",       # x broadcast(1-row N + bounded rb/cl tables)
    "psi_drift_windowed",           # x broadcast(bin marginal + 1-row totals)
    "job_edge_direction_migration",  # x broadcast(1-row legacy_remaining count)
    "tpch_q11_important_stock",     # x broadcast(1-row global value total)
    "tpch_q15_top_supplier",        # x broadcast(1-row max revenue scalar)
    "text_bm25_topk",               # x broadcast(1-row corpus N/avgdl stats)
    "text_blockmax_index",          # x broadcast(1-row corpus doc count for idf)
    "events_cooccurrence_lift",     # x broadcast(1-row distinct-user count)
    "mixture_apportionment",        # x broadcast(1-row total + 1-row used-slots)
    "text_pmi_collocations",        # x broadcast(1-row total pair count N)
    "classifier_cohens_kappa",      # x broadcast(1-row chance-agreement numerator)
    "record_linkage_fs_scores",     # x broadcast(1-row per-field u rates)
    "source_ablation_stats",        # x broadcast(1-row global totals)
    "similarity_matryoshka_eval",   # x broadcast(8-row anchor frame — constant contract)
    "eval_bleu_ngram_precision",    # x broadcast(1-row corpus length totals)
    "sampling_neyman_allocation",   # x broadcast(1-row weight total + 1-row used-base total)
    "retrieval_rbo_rankings",       # x broadcast(8-row anchor frame — same constant contract as matryoshka)
    "similarity_int8_distortion",   # x broadcast(1-row min/max arrays — same attach as int8_scan)
    "dedup_cluster_provenance",     # x broadcast(1-row cluster-count total)
    "drift_js_divergence",          # x broadcast(1-row population totals)
    "stats_cramers_v",              # x broadcast(1-row n/r/c totals)
    "timeseries_acf",               # x broadcast(6-row lag frame + 1-row n/sum totals)
    "text_query_likelihood_topk",   # x broadcast(1-row corpus token total)
    "streaming_psi_drift",          # x broadcast(1-row totals, via psi_drift)
    "text_kn_bigram_logprob",       # x broadcast(1-row bigram-type total)
    "streaming_ks_drift",           # x broadcast(1-row population totals, via ks_two_sample)
    "sketch_quantile_bottomk",      # x broadcast(1-row n_s/n totals + 5-row q spec) over <=256-row sketch frames
    "classifier_pr_auc",            # same NB attach as classifier_ranking_auc
    "stats_kruskal_wallis",         # x broadcast(1-row N + value-domain rank frame)
    "timeseries_ljung_box",         # x broadcast(6-row lag frame + 1-row totals, via acf_hourly)
    "stats_bh_fdr_rates",           # x broadcast(1-row N/X/m totals)
    "text_stupid_backoff_trigram",  # x broadcast(1-row train-token total)
    "classifier_brier_decomposition",  # x broadcast(1-row N/X/sq totals)
    "events_markov_stationary",     # x broadcast(1-row state count k)
    "embedding_top_pc_power",       # x broadcast(1-row max|C| normalizer) on the d^2 Gram frame
    "skew_shuffle_audit",           # 1-row key stats x broadcast(1-row bucket stats)
    "weighted_quantiles_by_source",  # x broadcast(4-row quantile spec; non-equi cum-weight filter)
    "events_markov_entropy_rate",   # x broadcast(1-row k + 1-row entropy total, via markov_stationary)
    "similarity_ivf_recall_audit",  # exact arm's documented O(n) 1-row query-vec attach + IVF centroid/LUT attaches
    "text_length_hill_tail",        # x broadcast(1-row tail threshold) on the 65-row order-stat frame
}


def test_plan_allowlists_name_registry_queries():
    """Every allowlisted name is a registry query: a stale entry would
    silently allow a nested loop to whatever later takes its name."""
    reg = _registry()
    assert not (_NESTED_LOOP_ALLOWED | _SCALAR_ATTACH) - set(reg)


def test_no_accidental_cartesian_anywhere(spark):
    """EVERY registry query must avoid CartesianProduct plans, and
    BroadcastNestedLoopJoin is allowed only for declared theta joins and
    scalar/bounded broadcast attaches — the single cheapest way a
    refactor can destroy 100-TB viability is an accidental cross
    product."""
    reg = _registry()
    offenders = {}
    for name, spec in reg.items():
        plan = _plan(spec.spark(spark, SF_SMOKE))
        hits = []
        if "CartesianProduct" in plan and name not in _NESTED_LOOP_ALLOWED:
            hits.append("CartesianProduct")
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in _NESTED_LOOP_ALLOWED
            and name not in _SCALAR_ATTACH
        ):
            hits.append("BroadcastNestedLoopJoin")
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_semijoin_planned_for_exists(spark):
    """EXISTS subqueries must plan as semi/anti joins, not inner joins with
    dedup."""
    reg = _registry()
    assert "Semi" in _plan(reg["exists_semijoin"].spark(spark, SF_SMOKE))
    assert "Anti" in _plan(reg["not_exists_antijoin"].spark(spark, SF_SMOKE))


def test_dedup_explode_is_parallel(spark):
    """The shingle pipeline must repartition before the explode so a
    single-file input cannot serialize the heavy work onto one task."""
    from cartography_spark.operators.dedup import doc_shingles
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    sh = doc_shingles(docs)
    assert "Exchange hashpartitioning(doc_id" in _plan(sh)


def test_narrow_text_ops_have_no_shuffle(spark):
    """Per-row prep operators (repetition stats, PII scrub, chunking) must
    plan as pure narrow maps over the scan — zero Exchange nodes."""
    reg = _registry()
    for name in ["text_repetition_stats", "text_pii_scrub", "doc_chunking"]:
        plan = _plan(reg[name].spark(spark, SF_SMOKE))
        assert "Exchange" not in plan, name


def test_contamination_probes_broadcast(spark):
    """The benchmark gram set must broadcast so the corpus side never
    shuffles for the semi-join probe."""
    reg = _registry()
    plan = _plan(reg["contamination_ngram_overlap"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_aggregates_partial_before_shuffle(spark):
    """groupBy aggregates must keep map-side partial aggregation (the
    HashAggregate -> Exchange -> HashAggregate shape)."""
    reg = _registry()
    plan = _plan(reg["agg_pricing_summary"].spark(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2


def test_dynamic_partition_pruning_triggers(spark, tmp_path):
    """Joining a partitioned fact against a filtered dim must inject a
    DynamicPruning subquery into the fact scan's partition filters — the
    runtime analogue of the static partition pruning the formats tests
    pin, and the mechanism that keeps star joins from scanning every
    partition at warehouse scale."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    p = str(tmp_path / "orders_p")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame([("F", "done"), ("O", "open")], "st string, label string")
    joined = fact.join(
        dim.filter(F.col("label") == "done"), fact.o_orderstatus == F.col("st")
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower()


def test_interval_overlap_pair_set_never_shuffled(spark):
    """The owner-bucket rule replaced the pair distinct: the quadratic
    post-join pair set must flow straight into a partial aggregate — no
    HashAggregate keyed on event ids and at most one exchange after the
    join (the final user-pair count)."""
    reg = _registry()
    plan = _plan(reg["interval_overlap_pairs"].spark(spark, SF_SMOKE))
    assert "event_id" not in plan.split("Join")[0]  # no event-id dedup above the join
    n_shuffle = len(re.findall(r"(?<![A-Za-z])Exchange (?:hash|range|Single)", plan))
    assert n_shuffle <= 1, plan


def test_plan_audit_covers_every_registry_query():
    """PLAN_AUDIT.md must have exactly one row per registry query — the
    artifact lagged the registry once (r4 shipped 273 rows for 274
    queries); regen tools/plan_audit.py as the last step of any round
    that touches the registry."""
    import re
    from pathlib import Path

    from cartography_spark.plans.registry import all_queries

    md = Path(__file__).resolve().parent.parent / "PLAN_AUDIT.md"
    rows = [
        m.group(1)
        for m in re.finditer(r"^\| ([a-z0-9_]+) \|", md.read_text(), re.M)
        if m.group(1) != "query"
    ]
    names = set(all_queries())
    assert len(rows) == len(names), (
        f"PLAN_AUDIT.md has {len(rows)} rows, registry has {len(names)} — regen tools/plan_audit.py"
    )
    assert set(rows) == names


def test_phrase_search_single_corpus_pass(spark):
    """Phrase search must materialize the phrase-term posting sliver once:
    the final plan joins checkpointed RDD scans, never a second parquet
    scan + explode per phrase term."""
    from cartography_spark.operators.textstats import phrase_search
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = phrase_search(docs, ["hash", "value", "table"])
    df.collect()  # finalize AQE + materialize the lazy checkpoint
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 0, "per-term corpus re-scan crept back in"
    assert "SortMergeJoin" not in plan


def test_blockmax_single_tf_pass(spark):
    """The blockmax build must compute the (term, doc) tf relation once —
    one parquet scan feeding both the idf branch and the block rollup."""
    from cartography_spark.operators.textstats import blockmax_index
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = blockmax_index(docs)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, "tf branch re-scan crept back in"


def test_length_buckets_single_shuffle(spark):
    """Bucket assignment is a per-row expression: exactly one Exchange (the
    final combinable aggregate), nothing resembling a global sort."""
    reg = _registry()
    plan = _plan(reg["batch_length_buckets"].spark(spark, SF_SMOKE))
    assert plan.count("Exchange") == 1 and "Sort" not in plan


def test_cdc_chunking_no_key_shuffle(spark):
    """Content-defined chunking is scan -> per-row array math -> explode:
    the ONLY exchange is the compact pre-explode parallelism-guard
    repartition; no aggregate/join shuffle, no sort."""
    reg = _registry()
    plan = _plan(reg["text_cdc_chunking"].spark(spark, SF_SMOKE))
    assert plan.count("Exchange") == 1 and "Sort" not in plan
    assert "Join" not in plan


def test_novelty_single_shingle_pass(spark):
    """shingle_novelty must materialize the shingle relation once — the
    checkpointed RDD feeds both the df aggregate and the join back,
    never a second parquet scan + explode."""
    from cartography_spark.operators.dedup import shingle_novelty
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = shingle_novelty(docs)
    df.collect()  # finalize AQE + materialize the lazy checkpoint
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 0, "shingle branch re-scan crept back in"


def test_chrf_streaming_explodes_not_fused_array(spark):
    """chrF deliberately uses one streaming explode per n-gram order
    (unioned) rather than fusing all orders into a flattened struct
    array: the fused form halves the corpus scans but materializes
    3x|chars| structs per row before exploding — measured 2.6x SLOWER
    at sf1/sf5 (the scan is the cheap part; the explode dominates).
    Pin the shape: no flatten-of-struct-arrays in the plan, and the
    per-order scans stay bounded by the order count."""
    from cartography_spark.plans.inventory_llm import q_eval_chrf_char_ngram

    df = q_eval_chrf_char_ngram(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "flatten(array(transform" not in plan.replace(" ", ""), (
        "the measured-slower fused-array form crept back in"
    )
    assert plan.count("Scan parquet") <= 12  # bounded: orders x side lanes
