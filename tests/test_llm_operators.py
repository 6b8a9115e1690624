"""LLM-data operator tests beyond the oracle-checked inventory: ANN and
vector search, simhash near-pairs, wildcard translation, data selection and
corpus statistics. The multimodal codecs are tested in test_multimodal.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from cartography_spark.functions.permissions import wildcard_match
from cartography_spark.operators import similarity as sim
from cartography_spark.operators.dedup import simhash, simhash_near_pairs
from cartography_spark.sources.parquet import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _qvec(spark, sf_dir):
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def test_ann_subset_of_exact_scores(spark, sf_dir):
    """ANN results re-rank exactly: every returned cosine matches the
    brute-force score for that id."""
    q = _qvec(spark, sf_dir)
    exact = {r.vec_id: r.cosine for r in sim.cosine_topk(_emb(spark, sf_dir), q, k=10**6).collect()}
    ann = sim.lsh_ann_topk(_emb(spark, sf_dir), q, dim=64, k=10).collect()
    assert ann, "query vector must at least match itself in its own bucket"
    for r in ann:
        assert abs(exact[r.vec_id] - r.cosine) < 1e-9


def test_simhash_near_pairs_self(spark, sf_dir):
    """A doc duplicated verbatim has hamming distance 0 to its copy."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 1000000)
    fp = simhash(docs.unionByName(dup))
    pairs = simhash_near_pairs(fp, max_hamming=0)
    got = {(r.a, r.b) for r in pairs.collect() if r.b == r.a + 1000000}
    assert len(got) == 50


def test_wildcard_translation(spark):
    df = spark.createDataFrame(
        [
            ("s3:GetObject", "s3:Get*", True),
            ("s3:GetObject", "s3:get?bject", True),  # case-insensitive + ?
            ("s3:PutObject", "s3:Get*", False),
            ("a_b", "a_b", True),  # literal underscore must not wildcard
            ("axb", "a_b", False),
            ("a%b", "a%b", True),  # literal percent
            ("aXYb", "a%b", False),
            ("anything", "*", True),
        ],
        "name string, pattern string, expect boolean",
    )
    rows = df.withColumn("got", wildcard_match(F.col("name"), F.col("pattern"))).collect()
    for r in rows:
        assert r.got == r.expect, f"{r.name} ~ {r.pattern}: got {r.got}"


def test_sparse_token_cosine_pairs(spark):
    from cartography_spark.operators.similarity import sparse_token_cosine_pairs

    rows = (
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")]  # identical
        + [(3, "alpha beta zeta eta"), (4, "one two three four")]
        + [(i, f"unique{i} filler{i} pad{i} text{i}") for i in range(10, 40)]  # df=1 grams
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # N=34 -> df cap = 3; shared grams of docs 1-3 have df 2..3, all kept
    out = sparse_token_cosine_pairs(docs, min_cos=0.2, k=10)
    got = {(r.doc_a, r.doc_b): r.cosine for r in out.collect()}
    assert got[(1, 2)] == 1.0  # identical bigram vectors
    assert (1, 3) in got and got[(1, 3)] < 1.0  # one shared bigram of three
    assert all(4 not in pair for pair in got)  # no shared grams -> no pair


def test_substring_span_stats_hand_computed(spark):
    """Interval-union coverage: overlapping dup spans merge, cross-doc
    repeats count, short docs yield zero windows."""
    from cartography_spark.operators.dedup import substring_span_stats

    docs = spark.createDataFrame(
        [
            (1, "x x x x x"),          # self-repeating: every window dup
            (2, "a b c q r s a b c"),  # "a b c" twice within one doc
            (3, "u v"),                # shorter than the window
            (4, "p q r"),              # cross-doc dup with doc 5
            (5, "p q r"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.dup_windows, r.dup_tokens, r.dup_permille)
        for r in substring_span_stats(docs, window=3).collect()
    }
    assert got == {
        1: (5, 3, 5, 1000),
        2: (9, 2, 6, 666),
        3: (2, 0, 0, 0),
        4: (3, 1, 3, 1000),
        5: (3, 1, 3, 1000),
    }


def test_unigram_surprisal_hand_computed(spark):
    """bits(tok) = floor(log2(T // c)) over the corpus unigram model."""
    from cartography_spark.operators.textstats import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.total_bits, r.mean_millibits)
        for r in unigram_surprisal(docs).collect()
    }
    # T=5; c(a)=2 -> floor(log2(2))=1; c(b)=2 -> 1; c(c)=1 -> floor(log2(5))=2
    assert got == {1: (3, 3, 1000), 2: (2, 3, 1500)}


def test_int8_quantize_and_topk_hand_computed(spark):
    """Codes hit the [0, 254] corners at the per-dim extremes; the scan
    ranks by integer dot product with a total (qdot, id) order."""
    from cartography_spark.operators.similarity import int8_quantize, int8_topk

    emb = spark.createDataFrame(
        [(0, [0.0, 10.0]), (1, [1.0, 0.0]), (2, [0.5, 5.0])],
        "vec_id bigint, embedding array<float>",
    )
    codes = {r.vec_id: list(r.qvec) for r in int8_quantize(emb).collect()}
    assert codes == {0: [0, 254], 1: [254, 0], 2: [127, 127]}
    top = [(r.vec_id, r.qdot) for r in int8_topk(emb, k=2).collect()]
    assert top == [(2, 254 * 127), (1, 0)]


def test_pq_adc_hand_computed(spark):
    """Encode/LUT/ADC arithmetic on a 4-dim, 2-subspace toy: identical
    vector scores 0, tie-broken codes pick the smallest centroid id."""
    from cartography_spark.operators.similarity import pq_adc_topk

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 10.0, 10.0]),
            (1, [10.0, 10.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 10.0, 10.0]),
            (3, [10.0, 0.0, 0.0, 10.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    got = [
        (r.vec_id, r.adist)
        for r in pq_adc_topk(emb, dim=4, k=3, n_sub=2, codebook_ids=(1, 2)).collect()
    ]
    d = 254 * 254 * 2  # squared distance between opposite subspace corners
    assert got == [(2, 0), (1, d * 2), (3, d * 2)]


def test_multiprobe_superset_of_single_bucket(spark, sf_dir):
    """Hamming<=1 probing can only widen the single-bucket candidate set,
    and every returned cosine matches the brute-force score."""
    q = _qvec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    single = {r.vec_id for r in sim.lsh_ann_topk(emb, q, dim=64, k=500).collect()}
    mp_rows = sim.multiprobe_lsh_ann_topk(emb, q, dim=64, k=500).collect()
    mp = {r.vec_id for r in mp_rows}
    assert single <= mp and len(mp) >= len(single)
    exact = {r.vec_id: r.cosine for r in sim.cosine_topk(emb, q, k=500).collect()}
    assert all(exact[r.vec_id] == r.cosine for r in mp_rows if r.vec_id in exact)


def test_substring_span_stats_null_text(spark):
    """A null text behaves as empty: one token, zero windows — never the
    size(NULL) = -1 trap."""
    from cartography_spark.operators.dedup import substring_span_stats

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.dup_windows, r.dup_permille)
           for r in substring_span_stats(docs, window=3).collect()}
    assert got == {1: (1, 0, 0), 2: (3, 0, 0)}


def test_ivf_pq_consistent_with_pq_adc(spark, sf_dir):
    """IVF-PQ is PQ-ADC restricted to probed cells: every returned
    (id, adist) must appear identically in the unpruned ADC ranking."""
    emb = _emb(spark, sf_dir)
    full = {r.vec_id: r.adist
            for r in sim.pq_adc_topk(emb, dim=64, k=10_000).collect()}
    pruned = sim.ivf_pq_topk(emb, dim=64).collect()
    assert pruned and all(full[r.vec_id] == r.adist for r in pruned)


def test_int8_quantize_constant_dim(spark):
    """A dimension with zero range quantizes to code 0 everywhere instead
    of dividing by zero."""
    from cartography_spark.operators.similarity import int8_quantize

    emb = spark.createDataFrame(
        [(0, [5.0, 0.0]), (1, [5.0, 10.0])], "vec_id bigint, embedding array<float>"
    )
    codes = {r.vec_id: list(r.qvec) for r in int8_quantize(emb).collect()}
    assert codes == {0: [0, 0], 1: [0, 254]}


def test_ann_recall_ladder(spark, sf_dir):
    """Recall@10 against brute force: widening the probe set must not
    lose recall (multiprobe >= single-bucket), and every ANN variant
    finds a non-empty overlap with the true top-10."""
    q = _qvec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    exact = {r.vec_id for r in sim.cosine_topk(emb, q, k=10).collect()}

    def recall(df):
        return len(exact & {r.vec_id for r in df.collect()}) / len(exact)

    r_single = recall(sim.lsh_ann_topk(emb, q, dim=64, k=10))
    r_multi = recall(sim.multiprobe_lsh_ann_topk(emb, q, dim=64, k=10))
    r_ivf = recall(sim.ivf_ann_topk(emb, q, k=10))
    assert r_multi >= r_single
    assert r_ivf > 0 and r_multi > 0

    # trained coarse quantizer (one exact k-means round) at the same fixed
    # n_probe must not lose recall vs the first-k-vectors seed quantizer
    from cartography_spark.operators.clustering import trained_centroid_frame

    cents = trained_centroid_frame(emb)
    r_ivf_trained = recall(sim.ivf_ann_topk(emb, q, k=10, centroids=cents))
    assert r_ivf_trained >= r_ivf


def test_hybrid_rrf_fuses_both_lanes(spark, sf_dir):
    """RRF math: every returned score equals 1/(60+dr) + 1/(60+sr) with 0
    for a missed lane, and any candidate ranked in BOTH lanes beats a
    candidate holding the same single-lane rank."""
    from cartography_spark.operators.similarity import hybrid_rrf_topk
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    rows = hybrid_rrf_topk(docs, emb, qv).collect()
    assert len(rows) == 10
    for r in rows:
        expect = (1.0 / (60 + r["dense_rank"]) if r["dense_rank"] else 0.0) + (
            1.0 / (60 + r["sparse_rank"]) if r["sparse_rank"] else 0.0
        )
        assert abs(r["rrf_score"] - expect) < 1e-6
        assert r["id"] != 0  # the query never retrieves itself
    both = [r for r in rows if r["dense_rank"] and r["sparse_rank"]]
    single = [r for r in rows if not (r["dense_rank"] and r["sparse_rank"])]
    for b in both:
        for s in single:
            lone = max(s["dense_rank"], s["sparse_rank"])
            if lone >= max(b["dense_rank"], b["sparse_rank"]):
                assert b["rrf_score"] > s["rrf_score"]


def test_dsir_enriches_target_slice(spark):
    """DSIR top-k selection must over-represent the target slice relative
    to its corpus share, and weights must be integer-exact bigints."""
    from cartography_spark.operators.sampling import dsir_importance
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = dsir_importance(docs, F.col("lang") == "de", top_k=100)
    rows = out.join(docs.select("doc_id", "lang"), "doc_id").collect()
    assert len(rows) == docs.count()
    sel = [r for r in rows if r.selected]
    assert len(sel) == 100
    de_share_corpus = sum(1 for r in rows if r.lang == "de") / len(rows)
    de_share_sel = sum(1 for r in sel if r.lang == "de") / len(sel)
    assert de_share_sel > 2 * de_share_corpus
    assert out.schema["weight_millinats"].dataType.simpleString() == "bigint"


def test_dsir_deterministic_across_partitioning(spark):
    from cartography_spark.operators.sampling import dsir_importance
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = dsir_importance(docs, F.col("lang") == "de", top_k=10).collect()
    b = dsir_importance(docs.repartition(7), F.col("lang") == "de", top_k=10).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_nb_classifier_beats_chance(spark):
    from cartography_spark.operators.textstats import nb_language_classifier
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = nb_language_classifier(docs).collect()
    assert len(out) == docs.count()
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert all(r.pred in langs for r in out)
    acc = sum(1 for r in out if r.correct) / len(out)
    assert acc > 1.5 / len(langs)  # comfortably above chance


def test_semdedup_prunes_injected_twins(spark, sf_dir):
    """A perturbed twin (cosine ~0.995 to its source) must land in the same
    k-means cluster and be pruned; every original row must survive."""
    from cartography_spark.operators.clustering import semdedup_prune

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x, i: F.when(i == 1, x * 1.1).otherwise(x)).alias(
            "embedding"
        ),
    )
    out = semdedup_prune(emb.unionByName(twins), k=2, rounds=2, threshold=0.9)
    rows = {r.vec_id: r for r in out.collect()}
    for vid in range(5):
        twin = rows[vid + 1000000]
        assert twin.pruned, f"twin of {vid} not pruned"
        assert twin.cluster == rows[vid].cluster
    assert not any(r.pruned for v, r in rows.items() if v < 1000000)


def test_semdedup_collapse_exact_twins(spark, sf_dir):
    """EXACT duplicate vectors take the collapse path: they never reach the
    pair generator, yet come back pruned with their representative's
    cluster; disabling the collapse gives the identical result."""
    from cartography_spark.operators.clustering import semdedup_prune

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    base = emb.unionByName(twins)
    a = semdedup_prune(base, k=2, rounds=2, threshold=0.9, collapse_exact=True)
    ra = {r.vec_id: (r.cluster, r.pruned) for r in a.collect()}
    assert len(ra) == base.count()
    for vid in range(5):
        assert ra[vid + 1000000][1], "exact twin must be pruned"
        assert ra[vid + 1000000][0] == ra[vid][0]
    # collapse definition: the collapsed run restricted to representatives
    # IS a plain run over the unique vector set (k-means sees each
    # duplicate set once — dup multiplicity must not skew centroids)
    c = semdedup_prune(emb, k=2, rounds=2, threshold=0.9, collapse_exact=False)
    rc = {r.vec_id: (r.cluster, r.pruned) for r in c.collect()}
    assert rc == {v: s for v, s in ra.items() if v < 1000000}


def test_lsh_delta_equals_full_minus_base(spark):
    """IVM contract: delta pairs == full-run pairs restricted to pairs with
    at least one delta side; base-base pairs never regenerate."""
    from cartography_spark.operators.dedup import lsh_delta_pairs, lsh_candidate_pairs, minhash_wide

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    got = {(r.a, r.b) for r in lsh_delta_pairs(base, delta).collect()}
    full = {
        (r.a, r.b)
        for r in lsh_candidate_pairs(minhash_wide(docs)).collect()
    }
    want = {(a, b) for a, b in full if a % 5 == 0 or b % 5 == 0}
    assert got == want
    assert all(a % 5 == 0 or b % 5 == 0 for a, b in got)


def test_dsir_empty_target_slice(spark):
    """An empty target slice must not crash: every bucket's target count is
    0, the smoothed log-ratio is finite, and top-k still selects."""
    from cartography_spark.operators.sampling import dsir_importance
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = dsir_importance(docs, F.lit(False), top_k=5).collect()
    assert len(out) == docs.count()
    assert sum(1 for r in out if r.selected) == 5
    assert all(r.weight_millinats is not None for r in out)


def test_nb_single_label_degenerate(spark):
    """With one label the classifier must predict it for every doc."""
    from cartography_spark.operators.textstats import nb_language_classifier

    docs = spark.createDataFrame(
        [(1, "alpha beta", "xx"), (2, "gamma delta", "xx"), (3, "alpha gamma", "xx")],
        "doc_id long, text string, lang string",
    )
    out = nb_language_classifier(docs).collect()
    assert len(out) == 3 and all(r.pred == "xx" and r.correct for r in out)


def test_lsh_delta_empty_delta(spark):
    """An empty increment yields zero new pairs (and no crash)."""
    from cartography_spark.operators.dedup import lsh_delta_pairs
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    empty = docs.filter(F.lit(False))
    assert lsh_delta_pairs(docs, empty).count() == 0


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL property: 64->8 dim dense ±1 projection keeps pairwise distance
    ratios within a loose (1±0.6) band — enough to bucket neighbors."""
    import math

    from cartography_spark.operators.similarity import random_project
    from cartography_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    orig = {r.vec_id: list(r.embedding) for r in emb.collect()}
    proj = {
        r.vec_id: [r[f"p{k}"] for k in range(8)]
        for r in random_project(emb, dim=64, n_components=8).collect()
    }

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ids = sorted(orig)[:10]
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d0 = dist(orig[ids[i]], orig[ids[j]])
            d1 = dist(proj[ids[i]], proj[ids[j]])
            if d0 > 1e-9:
                ratios.append(d1 / d0)
    assert ratios
    # distortion concentrates near 1; dense ±1 at k=8 is loose but bounded
    assert 0.4 < sum(ratios) / len(ratios) < 1.6


def test_inverted_index_consistency(spark, sf_dir):
    """df <= cf, top_tf is the max tf, and the head posting really is the
    highest-tf (tie: smallest id) document for a sampled term."""
    from cartography_spark.operators.textstats import inverted_index
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = {r.term: r for r in inverted_index(docs).collect()}
    assert idx
    assert all(r.df <= r.cf and r.top_tf >= 1 for r in idx.values())
    # recompute the head posting for the most frequent term in python
    term = max(idx.values(), key=lambda r: r.cf).term
    tf = {}
    for row in docs.select("doc_id", "text").collect():
        n = row.text.lower().split(" ").count(term)
        if n:
            tf[row.doc_id] = n
    best = min(tf, key=lambda d: (-tf[d], d))
    assert idx[term].top_doc == best and idx[term].top_tf == tf[best]


def test_phrase_search_overlapping_and_case(spark):
    """Overlapping occurrences all count ('a a a' has two 'a a' matches);
    matching is case-insensitive; docs without the full phrase are absent."""
    from cartography_spark.operators.textstats import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # 'a a' at pos 0 and 1
            (2, "A a x a a"),        # case-fold: pos 0 and 3
            (3, "a b a b a"),        # no adjacent 'a a'
            (4, "b a a"),            # one at pos 1
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_matches for r in phrase_search(docs, ["a", "a"]).collect()}
    assert got == {1: 2, 2: 2, 4: 1}
    # three-term phrase
    got3 = {r.doc_id: r.n_matches for r in phrase_search(docs, ["a", "a", "a"]).collect()}
    assert got3 == {1: 1}


def test_blockmax_index_upper_bounds(spark):
    """Block maxima really bound every posting's impact in the block — the
    invariant WAND skipping relies on — and block_start is the enclosing
    64-aligned range."""
    import math

    from cartography_spark.operators.textstats import blockmax_index

    docs = spark.createDataFrame(
        [(1, "x x x y"), (2, "x y"), (65, "x"), (70, "y y")],
        "doc_id long, text string",
    )
    rows = blockmax_index(docs).collect()
    n = 4
    tf = {("x", 1): 3, ("x", 2): 1, ("x", 65): 1, ("y", 1): 1, ("y", 2): 1, ("y", 70): 2}
    df = {"x": 3, "y": 3}
    idf = {t: round(math.log(n / d) * 1000) for t, d in df.items()}
    by_key = {(r.term, r.block_start): r for r in rows}
    assert set(by_key) == {("x", 0), ("x", 64), ("y", 0), ("y", 64)}
    for (term, blk), r in by_key.items():
        members = {d for (t, d) in tf if t == term and d - d % 64 == blk}
        assert r.n_postings == len(members)
        assert r.max_tf == max(tf[(term, d)] for d in members)
        assert r.block_max_impact == max(tf[(term, d)] * idf[term] for d in members)


def test_cohens_kappa_textbook_example(spark):
    """Classic 2x2 worked example: po=0.7, pe=0.5 -> kappa = 0.4 exactly
    (kappa_num/kappa_den = 500/1250)."""
    from cartography_spark.operators.profiling import cohens_kappa

    rows = (
        [("yes", "yes")] * 20 + [("yes", "no")] * 5
        + [("no", "yes")] * 10 + [("no", "no")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert (r.n, r.diag, r.pe_num) == (50, 35, 1250)
    assert (r.kappa_num, r.kappa_den) == (500, 1250)


def test_pmi_collocations_ranking_and_exactness(spark, sf_dir):
    """pmi_num/pmi_den are exact integers consistent with c_pair, and the
    output is ratio-descending with the declared tiebreak."""
    from cartography_spark.operators.textstats import pmi_collocations
    from cartography_spark.sources.parquet import load_table

    out = pmi_collocations(load_table(spark, sf_dir, "documents"), k=25).collect()
    assert 0 < len(out) <= 25
    keys = [(-(r.pmi_num / r.pmi_den), r.prev, r.tok) for r in out]
    assert keys == sorted(keys)
    for r in out:
        assert r.pmi_num % r.c_pair == 0 and r.c_pair >= 3


def test_zipf_fit_slope_is_negative_and_exact(spark, sf_dir):
    """The corpus frequency spectrum must fit a negative power law, with
    the slope reproducible from the exact integer counters."""
    from cartography_spark.operators.textstats import zipf_fit
    from cartography_spark.sources.parquet import load_table

    # the synthetic corpus has a ~31-word vocabulary; top_n caps, not pads
    r = zipf_fit(load_table(spark, sf_dir, "documents"), top_n=100).collect()[0]
    assert 20 <= r.n_terms <= 100 and r.slope_den > 0
    slope = r.slope_num / r.slope_den
    assert -3.0 < slope < -0.1
    intercept = (r.sum_y - slope * r.sum_x) / r.n_terms
    assert intercept > 0  # ln of a positive frequency scale


def test_shingle_novelty_bounds_and_duplicate_kills_novelty(spark, sf_dir):
    """novelty_ppm in [0, 1e6]; an exact duplicate drives both copies'
    novelty to 0 (every shingle now has df >= 2)."""
    from cartography_spark.operators.dedup import shingle_novelty
    from cartography_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    base = shingle_novelty(docs)
    assert base.filter("novelty_ppm < 0 OR novelty_ppm > 1000000").count() == 0
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 999999)
    out = shingle_novelty(docs.unionByName(dup))
    tgt = docs.limit(1).collect()[0].doc_id
    got = {r.doc_id: r.novelty_ppm for r in out.filter(
        F.col("doc_id").isin(int(tgt), int(tgt) + 999999)).collect()}
    assert got[tgt] == 0 and got[tgt + 999999] == 0


def test_theil_sen_ignores_outlier_ols_chases_it(spark):
    """On y = 2x with one wrecked point, the Theil-Sen median slope stays
    exactly 2 while the OLS slope moves — the whole reason the robust
    estimator exists."""
    from cartography_spark.operators.profiling import theil_sen_trend

    pts = [(1, "g", x, 2 * x) for x in range(1, 12)] + [(1, "g", 12, 500)]
    df = spark.createDataFrame(
        [(g, x, y) for _, g, x, y in pts], "g string, x long, y long"
    )
    r = theil_sen_trend(df, "g", "x", "y").collect()[0]
    assert r.med_num / r.med_den == 2.0
    # OLS on the same points is pulled far off 2 by the outlier
    n = len(pts)
    sx = sum(p[2] for p in pts); sy = sum(p[3] for p in pts)
    sxy = sum(p[2] * p[3] for p in pts); sxx = sum(p[2] * p[2] for p in pts)
    ols = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(ols - 2.0) > 5


def test_fs_linkage_true_pairs_score_highest(spark, sf_dir):
    """Every unperturbed roster row must meet its twin at n_agree=3, and
    all-agree pairs must outscore every partial-agreement pair (rare
    name agreement dominates the weight budget)."""
    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    rows = REGISTRY["record_linkage_fs_scores"].spark(spark, sf_dir).collect()
    true_full = [r for r in rows if r.b_id - r.a_id == 1000000 and r.n_agree == 3]
    # custkeys not divisible by 3, 5 or 7 are unperturbed on every field
    assert len(true_full) > 0
    min_full = min(r.score_milli for r in rows if r.n_agree == 3)
    max_partial = max((r.score_milli for r in rows if r.n_agree < 3), default=-10**9)
    assert min_full > max_partial
