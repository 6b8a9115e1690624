"""Text analysis operators for training-data pipelines — all built-in
pyspark.sql.functions (JVM, codegen), no UDFs:

- token_stats:    whitespace tokens, BPE-ish regex tokens, char classes.
- quality_score:  length / punctuation / stopword-ratio heuristic.
- language_id:    n-gram/stopword-hit heuristic over a small marker table.
- fingerprint:    normalization + md5 content fingerprint (e.g. for
                  corpus-level provenance joins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NB_BUCKETS = 64
MAX_N = 3
BETA = 2

# BPE-ish token pattern: word pieces, digit runs, or single non-space symbols
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")

# language marker words (tiny heuristic table; a real system ships a model —
# the operator shape is what matters: per-language hit counts then argmax)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "zh": ("的", "是", "了"),
}


def _count_tokens_in(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def token_stats(docs: DataFrame) -> DataFrame:
    # Every output is a scalar regex count — no token arrays, no
    # interpreted fold lambdas (r8 opt; the array shapes cost 2.4x at
    # sf1). Exactness of each replacement:
    #   n_ws_tokens: split(trim(t)) has (delimiter runs + 1) fields for
    #     every input incl. "" -> [""], so regexp_count(trim, \s+) + 1.
    #   sum(token lengths) = non-whitespace chars = length - ws count
    #     (tokens are exactly the non-ws chars of the trimmed text, and
    #     trimming only removes whitespace).
    #   size(regexp_extract_all(re)) = regexp_count(re) without
    #     materializing the match array.
    t = F.col("text")
    ws_chars = F.regexp_count(t, F.lit(r"\s"))
    n_ws_tokens = F.regexp_count(F.trim(t), F.lit(r"\s+")) + F.lit(1)
    return docs.select(
        F.col("doc_id"),
        F.length(t).alias("n_chars"),
        n_ws_tokens.alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(BPE_TOKEN_RE)).alias("n_bpe_tokens"),
        F.round(ws_chars / F.greatest(F.length(t), F.lit(1)), 6).alias("space_ratio"),
        F.round(
            (F.length(t) - ws_chars).cast("long") / F.greatest(n_ws_tokens, F.lit(1)),
            6,
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0,1]: favors moderate length, low
    punctuation density, and presence of stopwords (prose-likeness)."""
    t = F.lower(F.col("text"))
    tokens = F.split(F.trim(t), r"\s+")
    n_tok = F.greatest(F.size(tokens), F.lit(1))
    punct_ratio = F.length(F.regexp_replace(t, r"[a-z0-9\s]", "")) / F.greatest(
        F.length(t), F.lit(1)
    )
    stop_ratio = _count_tokens_in(tokens, STOPWORDS_EN) / n_tok
    len_score = F.least(F.size(tokens) / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return docs.select(
        F.col("doc_id"),
        F.round(score, 6).alias("quality"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Predict language by marker-word hit count (argmax, ties -> lexical
    order). The operator shape is a per-language conditional aggregate —
    the same plan a real n-gram model table would use via a join."""
    t = F.lower(F.col("text"))
    tokens = F.split(F.trim(t), r"\s+")
    scores = [
        F.struct(_count_tokens_in(tokens, words).alias("hits"), F.lit(lang).alias("lang"))
        for lang, words in sorted(LANG_MARKERS.items(), reverse=True)
    ]
    # array_max picks highest hits; ties resolve to lexicographically-last
    # struct, so reverse-sorted input makes ties resolve to first language
    best = F.array_max(F.array(*scores))
    return docs.select(
        F.col("doc_id"),
        best["lang"].alias("predicted_lang"),
        best["hits"].alias("marker_hits"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: lowercase, strip non-alphanumerics,
    md5. Robust to whitespace/punctuation-only edits."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]", "")
    return docs.select(F.col("doc_id"), F.md5(norm).alias("fingerprint"))


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Corpus-unigram language-model quality score, integer-exact.

    Classic LM-perplexity filtering (CCNet-style) scores each document by
    the average negative log-probability of its tokens under a corpus
    unigram model. Floating-point log/sum ordering differs across engines,
    so we quantize the surprisal of a token with corpus count c out of T
    total tokens to floor(log2(T / c)) = length(bin(T DIV c)) - 1 bits —
    pure integer arithmetic any engine reproduces bit-exactly.

    Plan shape: one explode, one token-frequency groupBy (map-side
    combinable), a one-row total broadcast, one join back on token, one
    per-doc groupBy. The token-frequency relation is the classic
    "dictionary" side — at 100 TB it stays millions of rows (vocabulary),
    so AQE broadcast-joins it against the exploded tokens.

    Output: (doc_id, n_tokens, total_bits, mean_millibits) — higher
    mean_millibits = rarer tokens = more surprising text.
    """
    # The post-explode repartition doubles as a MATERIALIZATION point:
    # the token stream feeds two jobs (frequency-dictionary build, then
    # scoring), and the exchange files let the second reuse the explode.
    # The compact pre-explode variant (shuffle one array row per doc)
    # measured 15% SLOWER at sf1 — each consumer re-ran the explode —
    # so the exploded-stream shuffle stays (interleaved A/B, r8 opt).
    toks = docs.select(
        F.col("doc_id"), F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    toks = toks.repartition(toks.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("bits", F.length(F.bin(F.expr("t DIV c"))).cast("long") - 1)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("CAST((sum(bits) * 1000) DIV count(*) AS BIGINT)").alias("mean_millibits"),
    )


def nb_language_classifier(docs: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes trained AND scored in-engine — the
    fastText-style shallow classifier stage of a training-data pipeline
    (language ID, quality routing), with the model learned from the
    corpus's own labels over hashed unigram buckets.

    Train: per-(label, bucket) token counts with add-1 smoothing plus a
    document-frequency class prior. Score: log P(label) +
    sum_tokens log P(bucket|label), decomposed so unobserved
    (label, bucket) pairs cost nothing — log(c+1) is 0 at c=0, so the
    likelihood table stays at OBSERVED pairs only (<= 64 x
    n_labels rows, broadcast), and the per-label normalizer
    -n_tokens * log(ct_label + B) attaches from a label-count table of
    n_labels rows. All log terms quantized to millinat bigints, so
    per-document sums are reduction-order-exact across engines.

    Plan at 100 TB: one explode + one (label, tok) groupBy for the model
    (vocabulary-bounded output; bucket md5 runs per distinct token, not
    per occurrence), one broadcast join + per-(doc, label) sum for
    scoring, one mergeable min_by argmax per doc — no window sort, no
    shuffle wider than (doc_id, label).

    Returns (doc_id, actual, pred, score_millinats, correct).
    """
    from cartography_spark.operators.dedup import portable_hash32

    # md5 over the VOCABULARY, not the occurrence stream: hashing every
    # token occurrence made the bucket md5 ~the whole query (sf1 profile:
    # 3.9 s of 11.2 s, plus a 2.4 s exchange of the raw stream kept only
    # so the second consumer could reuse that md5 work). Instead the
    # stream is first reduced map-side to (label, tok) counts — a
    # vocabulary-bounded frame (Heaps-law sublinear in corpus size) — and
    # the bucket hash runs once per distinct token. Neither consumer
    # shuffles token occurrences anymore: the model exchange carries
    # (label, tok) partial counts, the scoring exchange (doc, label)
    # partial sums, and the stream itself is scanned twice with no
    # materialization point (2 explode passes < 1 explode + full-stream
    # exchange — sf1 interleaved A/B 5.4 vs 7.8 s min; the per-occurrence
    # md5 variants measured 7.8-13.2 s across three shapes, r8 opt).
    toks = docs.select(
        F.col("doc_id"),
        F.col("lang").alias("actual"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    bucket = (portable_hash32(F.col("tok"), salt="nb") % NB_BUCKETS).alias("b")

    # (label, tok) counts: the only pass over the stream for the model;
    # partial aggregation keeps the exchange vocabulary-bounded. Lazy
    # localCheckpoint because the frame fans out to three consumers
    # (bucket counts, the distinct-token side, the class totals) whose
    # different column prunings would otherwise defeat exchange reuse and
    # re-run the stream aggregate per consumer (measured: 4 explode
    # passes, 0 reused exchanges). Checkpointed rows are vocab x labels —
    # recomputed from parquet on every run, never carried across runs.
    counts_lt = toks.groupBy(F.col("actual").alias("label"), "tok").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    counts = (
        counts_lt.select("label", bucket, "c")
        .groupBy("label", "b")
        .agg(F.sum("c").alias("c"))
    )
    likelihood = counts.select(
        "label", "b", F.round(F.log(F.col("c") + 1) * 1000).cast("bigint").alias("lc")
    )
    # per-token likelihood dictionary (vocab x labels rows, observed pairs
    # only): tok -> bucket once per distinct token, then the (label, b)
    # log-counts attach. Broadcast is vocabulary-bounded; for an unbounded
    # vocabulary swap the scoring join below to a shuffle join — the
    # aggregates stay identical.
    tok_b = counts_lt.select("tok").distinct().select("tok", bucket)
    lik_tok = tok_b.join(F.broadcast(likelihood), "b").select("tok", "label", "lc")
    class_tok = counts.groupBy("label").agg(F.sum("c").alias("ct"))
    prior = docs.groupBy(F.col("lang").alias("label")).agg(F.count("*").alias("dc"))
    n_docs = docs.agg(F.count("*").alias("nd"))
    classes = (
        class_tok.join(F.broadcast(prior), "label")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "label",
            F.round(F.log(F.col("ct") + NB_BUCKETS) * 1000).cast("bigint").alias("norm"),
            F.round(F.log(F.col("dc") / F.col("nd")) * 1000).cast("bigint").alias("pr"),
        )
    )

    s1 = (
        toks.join(F.broadcast(lik_tok), "tok")
        .groupBy(F.col("doc_id"), "label")
        .agg(F.sum("lc").alias("s1"))
    )
    # n_tokens as a narrow projection on docs — no third explode pass
    per_doc = docs.select(
        F.col("doc_id"),
        F.col("lang").alias("actual"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).cast("long").alias("n_tokens"),
    )
    scored = (
        per_doc.crossJoin(F.broadcast(classes))
        .join(s1, ["doc_id", "label"], "left")
        .select(
            F.col("doc_id"),
            "actual",
            "label",
            (
                F.col("pr")
                - F.col("n_tokens") * F.col("norm")
                + F.coalesce(F.col("s1"), F.lit(0))
            ).alias("score"),
        )
    )
    best = scored.groupBy(F.col("doc_id"), F.col("actual")).agg(
        F.min_by(
            F.struct(F.col("label"), F.col("score")),
            F.struct((-F.col("score")).alias("ns"), F.col("label")),
        ).alias("best")
    )
    return best.select(
        F.col("doc_id"),
        "actual",
        F.col("best.label").alias("pred"),
        F.col("best.score").cast("bigint").alias("score_millinats"),
        (F.col("best.label") == F.col("actual")).alias("correct"),
    )


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Corpus-bigram conditional LM score, integer-exact: each token after
    the first is charged floor(log2(c(prev) / c(prev, tok))) bits — the
    quantized -log2 P(tok | prev) under the corpus bigram model. The
    conditional model penalizes improbable CONTINUATIONS, catching
    shuffled/garbled text that unigram_surprisal (above) scores as
    normal.

    Plan: one posexplode, one lag window per doc (the only per-doc sort),
    bigram + unigram frequency groupBys (both map-side combinable,
    vocabulary-bounded), two dictionary joins, one per-doc groupBy.
    bin()-length arithmetic as in unigram_surprisal — no float log.
    """
    # The post-explode repartition doubles as a MATERIALIZATION point for
    # the three consumers of the lagged pair frame (r8-opt sf1 A/Bs: the
    # compact pre-explode variant re-ran the explode per branch, and a
    # localCheckpoint of the pair frame lost the dictionary joins' stats
    # and measured 2x slower — the exchange shape is the fastest of the
    # three).
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "tok"),
    )
    toks = toks.repartition(toks.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    pairs = toks.withColumn("prev", F.lag("tok").over(w)).filter(F.col("prev").isNotNull())
    uni = pairs.groupBy("prev").agg(F.count("*").alias("c1"))
    bi = pairs.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    scored = (
        pairs.join(bi, ["prev", "tok"])
        .join(uni, "prev")
        .withColumn("bits", F.length(F.bin(F.expr("c1 DIV c2"))).cast("long") - 1)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("CAST((sum(bits) * 1000) DIV count(*) AS BIGINT)").alias("mean_millibits"),
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """Inverted-index construction — the index-build-as-a-DataFrame job
    behind every sharded search deployment (the batch producer of the
    posting lists BM25 serves). Per term: document frequency, collection
    frequency, and the head posting (the doc with the highest term
    frequency, ties to the smallest doc_id — what an impact-ordered /
    WAND index stores first).

    Plan shape: one explode, one (term, doc) tf aggregate — map-side
    combinable, the same shuffle key the posting lists themselves need —
    then a per-term max_by/sum rollup. At 100 TB the (term, doc) shuffle
    IS the index build (one pass, hash-partitioned by term = one posting
    shard per reducer); nothing here is driver-bounded.
    """
    # compact pre-explode repartition (doc_shingles pattern): one array
    # row per doc crosses the wire, not the exploded term stream
    pre = docs.select(
        F.col("doc_id").alias("doc"), F.split(F.lower(F.col("text")), " ").alias("__arr")
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col("doc"))
    toks = pre.select(F.col("doc"), F.explode("__arr").alias("term")).filter(
        F.col("term") != ""
    )
    tf = toks.groupBy("term", "doc").agg(F.count("*").alias("tf"))
    return tf.groupBy("term").agg(
        F.countDistinct("doc").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.expr("min_by(doc, struct(-tf, doc))").cast("long").alias("top_doc"),
        F.max("tf").cast("long").alias("top_tf"),
    )


def blockmax_index(docs: DataFrame) -> DataFrame:
    """Block-Max index construction — the skipping structure WAND-family
    dynamic pruning consumes (Block-Max WAND, Ding & Suel SIGIR'11): the
    posting list of each term is cut into fixed doc-id blocks and each
    block stores its LOCAL maximum impact score, letting the query
    processor skip a whole block when its max can't enter the top-k.

    Per (term, block of 64 doc ids): posting count, max term
    frequency, and the block-max tf*idf impact with idf quantized to
    integer millinats (round(ln(N/df)*1000) — one quantized log per term,
    identical IEEE double in any engine, everything after it integer).

    Plan shape: explode -> (term, doc) tf aggregate (map-side combinable)
    -> term df aggregate -> idf broadcast back -> (term, block) max
    aggregate. Doc-id blocks mean the final aggregate's key is derived
    arithmetically (doc DIV 64) — no windows, no sorts; at 100 TB
    each term shard builds its block maxima in one combinable pass, and
    the output is |postings| / 64 rows — the same compression
    knob the on-disk structure has.
    """
    # compact pre-explode repartition (doc_shingles pattern): one array
    # row per doc crosses the wire, not the exploded term stream
    pre = docs.select(
        F.col("doc_id").alias("doc"), F.split(F.lower(F.col("text")), " ").alias("__arr")
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col("doc"))
    toks = pre.select(F.col("doc"), F.explode("__arr").alias("term")).filter(F.col("term") != "")
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n"))
    # tf feeds BOTH the df/idf aggregate and the final block rollup:
    # checkpoint it so the corpus is scanned + exploded + counted once,
    # not once per branch
    tf = (
        toks.groupBy("term", "doc")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(F.log(F.col("n") / F.col("df")) * 1000)
            .cast("bigint")
            .alias("idf_millinat"),
        )
    )
    return (
        tf.join(idf, "term")
        .groupBy(
            "term",
            (F.col("doc") - (F.col("doc") % 64)).alias("block_start"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_postings"),
            F.max("tf").cast("bigint").alias("max_tf"),
            F.max(F.col("tf") * F.col("idf_millinat")).cast("bigint").alias("block_max_impact"),
        )
    )


def phrase_search(docs: DataFrame, phrase: list[str] | tuple[str, ...]) -> DataFrame:
    """Exact phrase matching over a positional inverted index — the query
    side of the index ``inverted_index`` builds, extended with positions
    (what a search engine's phrase/proximity operator consumes). Returns
    (doc_id, n_matches) for documents containing the phrase at least once;
    overlapping occurrences all count.

    Plan shape: ONE scan + posexplode producing only the phrase's own
    terms' postings (term IN (...) right after the explode), the sliver
    checkpointed doc-partitioned so the k per-term branches reuse one
    materialization instead of re-scanning + re-exploding the corpus per
    term, then k-1 equi-joins on (doc, pos + i) adjacency. At 100 TB the
    corpus is read once; everything after the IN filter is
    phrase-selective (a few postings per matching doc), and the
    adjacency joins are co-partitioned on doc by construction. No
    windows, no arrays carried past the explode.
    """
    if len(phrase) < 2:
        raise ValueError("phrase must have at least two terms")
    terms = [t.lower() for t in phrase]
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "term"),
    ).filter(F.col("term").isin(terms))
    # one materialization of the tiny phrase-term sliver, reused by every
    # per-term branch (without it each branch re-scans + re-explodes)
    toks = toks.repartition(
        toks.sparkSession.sparkContext.defaultParallelism, F.col("doc")
    ).localCheckpoint(eager=False)
    out = toks.filter(F.col("term") == terms[0]).select("doc", "pos")
    for i, term in enumerate(terms[1:], start=1):
        nxt = toks.filter(F.col("term") == term).select(
            F.col("doc"), (F.col("pos") - i).alias("pos")
        )
        out = out.join(nxt, ["doc", "pos"])
    return out.groupBy(F.col("doc").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_matches")
    )


def ranking_auc(scored: DataFrame) -> DataFrame:
    """Exact ROC-AUC of a scored binary outcome via the Mann-Whitney U
    rank statistic with tie midranks: AUC = P(score_pos > score_neg)
    + 0.5 * P(score_pos = score_neg). One row: (n_pos, n_neg, u2, auc,
    gini) where u2 = 2U stays integer-exact (each tie contributes a
    half, doubled away), so the hash-compare is exact and auc/gini are
    a single identical IEEE division on both engines.

    Scale shape: the O(N) input collapses to one row per DISTINCT score
    first (map-side combinable groupBy), and the rank cumsum runs over
    that bounded frame — for continuous scores quantize to integer
    buckets upstream (the engine's scorers already emit integer
    millinats). No global sort of the raw data ever happens.
    """
    from pyspark.sql import Window

    by_score = scored.groupBy(F.col("score_millinats").alias("s")).agg(
        F.sum(F.when(F.col("correct"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("correct"), 0).otherwise(1)).alias("n0"),
    )
    below = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = by_score.withColumn("cum0", F.coalesce(F.sum("n0").over(below), F.lit(0)))
    totals = cum.agg(
        F.sum("n1").cast("long").alias("n_pos"),
        F.sum("n0").cast("long").alias("n_neg"),
        F.sum(F.col("n1") * (2 * F.col("cum0") + F.col("n0"))).cast("long").alias("u2"),
    )
    return totals.select(
        "n_pos",
        "n_neg",
        "u2",
        (F.col("u2") / (2.0 * F.col("n_pos") * F.col("n_neg"))).alias("auc"),
        (F.col("u2") / (2.0 * F.col("n_pos") * F.col("n_neg")) * 2.0 - 1.0).alias("gini"),
    )


def average_precision(
    scored: DataFrame, score_col: str = "score_millinats", label_col: str = "correct"
) -> DataFrame:
    """Exact PR-AUC (average precision) of a scored binary outcome — the
    discrimination metric that, unlike ROC-AUC (ranking_auc), is not
    inflated by a large negative class, so it is the one retrieval and
    rare-event filters report. Step-wise AP over distinct score
    thresholds descending (the sklearn average_precision_score
    definition): AP = sum_s (n1_s / P) * (cum1_s / cum_tot_s), where
    cum1/cum_tot count labels at-or-above threshold s.

    Exactness: each threshold's term is quantized INDEPENDENTLY —
    term_micros = round(1e6 * n1_s * cum1_s / cum_tot_s) — so the sum is
    exact BIGINT arithmetic (reduction-order-immune, the psi_drift
    contract) and the final AP is one identical division by P on both
    engines; ap_micros_sum ships in the output for a bit-stable hash.

    Scale shape: identical to ranking_auc — one map-side-combinable
    collapse to distinct scores, rank cumsum over that bounded frame,
    never a global sort of the raw predictions.
    """
    from pyspark.sql import Window

    by_score = scored.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("n0"),
    )
    above = Window.orderBy(F.col("s").desc()).rowsBetween(Window.unboundedPreceding, 0)
    cum = by_score.select(
        "n1",
        F.sum("n1").over(above).alias("cum1"),
        (F.sum("n1").over(above) + F.sum("n0").over(above)).alias("cum_tot"),
    )
    term = F.round(
        F.lit(1_000_000.0) * F.col("n1") * F.col("cum1") / F.col("cum_tot")
    ).cast("long")
    totals = cum.agg(
        F.sum("n1").cast("long").alias("n_pos"),
        (F.max("cum_tot") - F.sum("n1")).cast("long").alias("n_neg"),
        F.sum(term).cast("long").alias("ap_micros_sum"),
    )
    return totals.select(
        "n_pos",
        "n_neg",
        "ap_micros_sum",
        F.try_divide(F.col("ap_micros_sum") / 1_000_000.0, F.col("n_pos").cast("double")).alias(
            "average_precision"
        ),
    )


def chi2_feature_selection(docs: DataFrame, n_buckets: int = 64, top_k: int = 10) -> DataFrame:
    """Chi-square feature selection over the SAME hashed-bucket features
    the NB classifier uses: for every (label, bucket) one-vs-rest 2x2
    contingency cell, chi2 = N*(AD-BC)^2 / (row1*row2*col1*col2), ranked
    to the top_k most label-associated buckets — the standard
    pre-training feature audit. Counts stay exact BIGINTs; the delta is
    cast to double ONCE before squaring (delta^2 overflows int64 at
    corpus scale) and the formula is a fixed left-associative chain so
    both engines produce the identical IEEE value. Plan: one explode +
    one (label, bucket) groupBy; every later step runs on the bounded
    model frame (<= 64 x n_labels rows)."""
    from pyspark.sql import Window

    from cartography_spark.operators.dedup import portable_hash32

    tb = docs.select(
        F.col("lang").alias("label"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).withColumn("b", portable_hash32(F.col("tok"), salt="nb") % n_buckets)
    c = tb.groupBy("label", "b").agg(F.count("*").alias("c"))
    rb = c.groupBy("b").agg(F.sum("c").alias("rb"))
    cl = c.groupBy("label").agg(F.sum("c").alias("cl"))
    n = c.agg(F.sum("c").alias("n"))
    j = (
        c.join(F.broadcast(rb), "b")
        .join(F.broadcast(cl), "label")
        .crossJoin(F.broadcast(n))
    )
    delta = (
        F.col("c") * (F.col("n") - F.col("rb") - F.col("cl") + F.col("c"))
        - (F.col("rb") - F.col("c")) * (F.col("cl") - F.col("c"))
    )
    chi2 = (
        F.col("n").cast("double")
        * delta.cast("double")
        * delta.cast("double")
        / F.col("rb")
        / (F.col("n") - F.col("rb"))
        / F.col("cl")
        / (F.col("n") - F.col("cl"))
    )
    ranked = j.select("label", F.col("b").alias("bucket"), "c", chi2.alias("chi2"))
    w = Window.orderBy(F.col("chi2").desc(), "label", "bucket")
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "label", "bucket", F.col("c").cast("long").alias("c"), "chi2")
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon character entropy — the standard cheap gate for
    binary junk / key-mash / base64 blobs in pretraining corpora (gibberish
    has near-uniform char distribution -> high entropy; repeated-char spam
    collapses to near zero; natural language sits in a mid band).

    Integer-exact by the distinct-value-collapse recipe (SCALE.md): explode
    characters once (docs pre-partitioned by id, so BOTH aggregates below
    run shuffle-free on the exploded stream), count per (doc, char) — at
    most ~128 distinct per doc — then entropy in millinats as
    ``sum(c * round(1000 * ln(n/c))) DIV n``: one quantized log per
    DISTINCT (n, c) cell, integer weights, reduction-order-immune sum,
    single integer division at the end. Docs with no characters produce no
    rows (no char cells exist), mirroring the oracle's comprehension.

    Note: characters are UTF-16 code units on the JVM vs code points in
    DuckDB — identical for BMP text; the synthetic corpus is ASCII.
    """
    spark = docs.sparkSession
    base = docs.select(
        F.col("doc_id"), F.coalesce(F.col("text"), F.lit("")).alias("__t")
    ).repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    cnt = (
        base.select(F.col("doc_id"), F.explode(F.split("__t", "")).alias("__ch"))
        # split('', '') yields [''] (size 1), not [] — drop the phantom char
        # so empty/null docs produce no cells, like the oracle's
        # generate_series(1, 0) comprehension
        .filter(F.col("__ch") != "")
        .groupBy("doc_id", "__ch")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.sum("__c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    w = F.col("__c") * F.round(
        F.lit(1000) * F.log(F.col("n_chars") * F.lit(1.0) / F.col("__c"))
    ).cast("bigint")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n_chars", "n_distinct")
        .agg(F.sum(w).alias("__sw"))
        .select(
            "doc_id",
            "n_chars",
            "n_distinct",
            F.expr("CAST(__sw DIV n_chars AS BIGINT)").alias("entropy_millinat"),
        )
    )


def pmi_collocations(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information — the
    classic phrase-mining signal (two words that co-occur far more than
    their marginals predict form a lexical unit worth a single token).

    Exactness contract: PMI = ln(N * c_xy / (c_x * c_y)) is never
    materialized as a float. The output carries the exact BIGINT
    numerator (pmi_num = N * c_xy) and denominator (pmi_den = c_x *
    c_y); ranking uses the IEEE double ratio pmi_num / pmi_den — a
    single correctly-rounded operation on exact integer inputs, so
    every engine computes the identical double and the top-k row SET is
    deterministic (ties broken by (prev, tok)). ln is monotone, so
    ratio order IS PMI order. BIGINT-safe: N ~ 1e8 pairs x c_xy fits
    to ~sf1000 for this corpus shape.

    Plan at 100 TB: one posexplode + lag per doc, then three
    vocabulary-bounded aggregations (pair counts, both marginals — all
    map-side combinable) and two dictionary joins on the FILTERED
    pair table (the 3-occurrence minimum prunes the long tail before any join). The
    global pair count N attaches as a 1-row broadcast, and the final
    top-k is a TakeOrdered — no full sort.
    """
    from pyspark.sql import Window as W

    # compact pre-explode repartition (doc_shingles pattern): shuffle one
    # array row per doc, not the exploded token stream; Generate preserves
    # the hash(id) partitioning the lag window needs
    pre = docs.select(
        F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("__arr")
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    toks = pre.select(F.col("doc_id"), F.posexplode("__arr").alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    # checkpoint: four branches (total, c_x, c_y, c_xy) consume this
    # relation — without it the explode + per-doc lag window execute once
    # per branch (the scan itself is deduped by ReusedExchange, the
    # window work is not)
    pairs = (
        toks.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .localCheckpoint(eager=False)
    )
    n_total = pairs.agg(F.count("*").cast("long").alias("__n"))
    cx = pairs.groupBy("prev").agg(F.count("*").cast("long").alias("c_x"))
    cy = pairs.groupBy("tok").agg(F.count("*").cast("long").alias("c_y"))
    cxy = (
        pairs.groupBy("prev", "tok")
        .agg(F.count("*").cast("long").alias("c_pair"))
        .filter(F.col("c_pair") >= 3)
    )
    scored = (
        cxy.join(cx, "prev")
        .join(cy, "tok")
        .crossJoin(F.broadcast(n_total))
        .select(
            "prev",
            "tok",
            "c_pair",
            (F.col("__n") * F.col("c_pair")).cast("long").alias("pmi_num"),
            (F.col("c_x") * F.col("c_y")).cast("long").alias("pmi_den"),
        )
    )
    ratio = F.col("pmi_num").cast("double") / F.col("pmi_den").cast("double")
    return scored.orderBy(ratio.desc(), "prev", "tok").limit(k)


def zipf_fit(docs: DataFrame, top_n: int = 200) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum: OLS slope of
    ln(freq) against ln(rank) over the top_n terms — the one-number
    health check of a text corpus (natural language sits near -1;
    boilerplate-heavy or templated corpora flatten, spam steepens).

    Exactness contract (linear_trend_exact pattern): ln values are
    quantized ONCE per term to fixed-point 1e-5 nats (floor(ln * 1e5)
    as BIGINT) and the whole regression runs in exact integer
    arithmetic from there — the slope is an exact numerator/denominator
    pair, bit-reproducible under any partition order. The only
    cross-engine surface is the per-value floor of a library ln,
    quantized coarsely enough that a last-ulp disagreement would need
    ln(k) * 1e5 within ~1e-10 of an integer. BIGINT-safe: n * sum(x*y)
    ~ top_n^2 * x_max * y_max < 2^63 for top_n <= ~400 at any corpus
    scale (x_max is pinned by top_n). The intercept's closed form
    (sum_y*Sxx - sum_x*Sxy) would overflow BIGINT, so the exact sums
    ride along instead and intercept = (sum_y - slope*sum_x)/n is one
    driver-side division.

    Plan at 100 TB: one explode + one vocabulary-bounded count, a
    TakeOrdered(top_n) for the rank assignment (the only serial step,
    bounded by top_n), then a single-row exact aggregate.
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    freq = toks.groupBy("term").agg(F.count("*").cast("long").alias("freq"))
    ranked = freq.orderBy(F.col("freq").desc(), "term").limit(top_n).select(
        "term",
        "freq",
        F.row_number()
        .over(W.orderBy(F.col("freq").desc(), "term"))
        .cast("long")
        .alias("rank"),
    )
    q = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * 100000).cast("long").alias("x"),
        F.floor(F.log(F.col("freq").cast("double")) * 100000).cast("long").alias("y"),
    )
    return q.agg(
        F.count("*").cast("long").alias("n_terms"),
        (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("long")
        .alias("slope_num"),
        (F.count("*") * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("long")
        .alias("slope_den"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
    )


def bleu_ngram_precision(pairs: DataFrame) -> DataFrame:
    """Corpus-level BLEU-2 between (candidate, reference) text pairs:
    modified (clipped) unigram and bigram precision, brevity penalty,
    and their geometric mean — the standard automatic metric for
    generation / translation eval over a labelled pair table.

    Returns ONE row: clip1/tot1, clip2/tot2 (exact BIGINT clipped and
    total n-gram counts), cand_len/ref_len, p1_micros, p2_micros,
    bp_micros, bleu2_micros.

    Exactness: tokenization is a shared regex (lowercase alphanumeric
    runs); every count is an exact integer from grouped aggregation, so
    both engines derive the four floats from the SAME integers with a
    fixed handful of IEEE ops (quantized at 1e-6).

    Scale shape: ONE scan of the pair table explodes both sides into a
    single (pair, side, pos, token) stream; bigrams come from a lag
    window per (pair, side) — a bounded per-document frame; the clip
    join is cand-counts LEFT JOIN ref-counts on (pair, n, gram), both
    sides pre-collapsed by the same grouped count (map-side combine),
    so the join cardinality is the distinct-n-gram space, never the
    token stream; final single-row corpus rollup is a plain aggregate.
    """
    from pyspark.sql import Window

    sides = pairs.select(
        F.col("pair_id").alias("pid"),
        F.posexplode(
            F.create_map(F.lit("c"), F.col("cand_text"), F.lit("r"), F.col("ref_text"))
        ).alias("_i", "side", "txt"),
    ).select("pid", "side", "txt")
    toks = (
        sides.select(
            "pid",
            "side",
            F.posexplode(F.split(F.lower("txt"), "[^a-z0-9]+")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    w = Window.partitionBy("pid", "side").orderBy("pos")
    grams = toks.withColumn("nxt", F.lead("tok").over(w)).select(
        "pid",
        "side",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("n"), F.col("tok").alias("gram")),
                F.struct(
                    F.lit(2).alias("n"),
                    F.when(F.col("nxt").isNotNull(), F.concat_ws(" ", "tok", "nxt")).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("pid", "side", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    counts = grams.groupBy("pid", "side", "n", "gram").agg(F.count("*").alias("cnt"))
    cand = counts.filter(F.col("side") == "c").drop("side").withColumnRenamed("cnt", "c_cnt")
    ref = counts.filter(F.col("side") == "r").drop("side").withColumnRenamed("cnt", "r_cnt")
    clipped = cand.join(ref, ["pid", "n", "gram"], "left").select(
        "n",
        F.col("c_cnt").alias("tot"),
        F.least(F.col("c_cnt"), F.coalesce(F.col("r_cnt"), F.lit(0))).alias("clip"),
    )
    per_n = clipped.groupBy("n").agg(
        F.sum("tot").cast("bigint").alias("tot"), F.sum("clip").cast("bigint").alias("clip")
    )
    lens = (
        toks.groupBy("side")
        .agg(F.count("*").alias("n_tok"))
        .groupBy()
        .agg(
            F.sum(F.when(F.col("side") == "c", F.col("n_tok")).otherwise(0)).cast("bigint").alias("cand_len"),
            F.sum(F.when(F.col("side") == "r", F.col("n_tok")).otherwise(0)).cast("bigint").alias("ref_len"),
        )
    )
    wide = per_n.groupBy().agg(
        F.coalesce(F.max(F.when(F.col("n") == 1, F.col("clip"))), F.lit(0)).alias("clip1"),
        F.coalesce(F.max(F.when(F.col("n") == 1, F.col("tot"))), F.lit(0)).alias("tot1"),
        F.coalesce(F.max(F.when(F.col("n") == 2, F.col("clip"))), F.lit(0)).alias("clip2"),
        F.coalesce(F.max(F.when(F.col("n") == 2, F.col("tot"))), F.lit(0)).alias("tot2"),
    )
    # try_divide everywhere a degenerate corpus can zero a denominator
    # (empty candidates -> tot1 = cand_len = 0): NaN would poison the
    # bigint cast under ANSI; the documented degenerate value is 0
    p1 = F.try_divide(F.col("clip1").cast("double"), F.col("tot1").cast("double"))
    p2 = F.try_divide(F.col("clip2").cast("double"), F.col("tot2").cast("double"))
    bp = F.when(
        F.col("cand_len") >= F.col("ref_len"), F.lit(1.0)
    ).otherwise(
        F.exp(
            F.lit(1.0)
            - F.try_divide(F.col("ref_len").cast("double"), F.col("cand_len").cast("double"))
        )
    )
    # guard the logs: a zero clipped count means BLEU-2 is 0 by definition,
    # and engines disagree on log(0) (null vs error)
    bleu2 = F.when(
        (F.col("clip1") > 0) & (F.col("clip2") > 0),
        F.round(F.lit(1_000_000.0) * bp * F.exp((F.log(p1) + F.log(p2)) / 2)),
    ).otherwise(F.lit(0))
    return wide.crossJoin(lens).select(
        "clip1", "tot1", "clip2", "tot2", "cand_len", "ref_len",
        F.coalesce(F.round(F.lit(1_000_000.0) * p1), F.lit(0)).cast("bigint").alias("p1_micros"),
        F.coalesce(F.round(F.lit(1_000_000.0) * p2), F.lit(0)).cast("bigint").alias("p2_micros"),
        F.coalesce(F.round(F.lit(1_000_000.0) * bp), F.lit(0)).cast("bigint").alias("bp_micros"),
        bleu2.cast("bigint").alias("bleu2_micros"),
    )


def rake_keywords(docs: DataFrame, k: int = 20) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores deg/freq (deg =
    total length of phrases it appears in, freq = its occurrence count)
    and a phrase scores the sum of its words' scores. Returns the top-k
    distinct phrases corpus-wide: (phrase, n_words, n_occurrences,
    score_micros) — the unsupervised keyphrase baseline for corpus
    triage and topic labeling.

    Exactness: deg and freq are exact integers; each word ratio is ONE
    correctly-rounded division quantized to integer micros, and phrase
    scores are integer sums of those micros, so the (score, phrase)
    ranking is engine-identical. Identical phrase texts score
    identically by construction (scores depend only on corpus-wide word
    stats), so the distinct-phrase collapse is well-defined.

    Scale shape: one corpus scan tokenizes and segments (the phrase id
    is a running stopword count per doc — a bounded per-document
    window); word stats are two map-side-combinable aggregates on the
    word key; the phrase score join is words-to-ratios on the word key
    (never a pair join); top-k is TakeOrdered over the distinct-phrase
    collapse, no global sort.
    """
    from pyspark.sql import Window

    toks = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.posexplode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn("is_stop", F.col("tok").isin(*STOPWORDS_EN))
    )
    w = Window.partitionBy("doc").orderBy("pos")
    seg = toks.withColumn(
        "seg", F.sum(F.col("is_stop").cast("int")).over(w)
    ).filter(~F.col("is_stop"))
    phrase_len = seg.groupBy("doc", "seg").agg(F.count("*").alias("plen"))
    words = seg.join(phrase_len, ["doc", "seg"])
    ratios = words.groupBy("tok").agg(
        F.round(
            F.lit(1_000_000.0) * F.sum("plen").cast("double") / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("ratio_micros")
    )
    scored = (
        words.join(ratios, "tok")
        .groupBy("doc", "seg")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x.tok
                ),
            ).alias("phrase"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("ratio_micros").cast("bigint").alias("score_micros"),
        )
    )
    return (
        scored.groupBy("phrase", "n_words", "score_micros")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .select("phrase", "n_words", "n_occurrences", "score_micros")
        .orderBy(F.col("score_micros").desc(), F.col("phrase").asc())
        .limit(k)
    )


def chrf_score(pairs: DataFrame) -> DataFrame:
    """Corpus chrF (Popovic 2015): character n-gram precision/recall
    F-2 between (candidate, reference) pairs, averaged over n-gram
    orders 1..3 — the generation-eval metric that credits partial
    word matches (morphology, typos) that word-level BLEU scores as
    total misses. Whitespace is stripped before n-gram extraction (the
    chrF convention), text lowercased.

    Returns ONE row: per-order exact BIGINT counts (clip_n / cand_n /
    ref_n for each n), per-order f2_micros, and chrf_micros (the
    integer mean of the per-order quantized F scores).

    Exactness: all counts are integers from grouped aggregation; each
    precision/recall/F is a fixed float expression over them, quantized
    to micros per order, and the final average is integer arithmetic
    over those quantized values. Zero-overlap orders contribute F = 0
    (no log, no division hazard: F's denominator 4*P+R is only 0
    when both are, guarded by try_divide -> coalesce 0).

    Scale shape: ONE scan explodes both sides into a (pair, side, n,
    gram) stream via per-row substring transforms (flat-map, no
    shuffle); counts collapse map-side; the clip join runs on
    pre-collapsed distinct-n-gram counts per pair.
    """
    sides = pairs.select(
        F.col("pair_id").alias("pid"),
        F.explode(
            F.create_map(F.lit("c"), F.col("cand_text"), F.lit("r"), F.col("ref_text"))
        ).alias("side", "txt"),
    ).select(
        "pid", "side", F.regexp_replace(F.lower("txt"), r"\s+", "").alias("s")
    )
    # one explode per order, unioned. MEASURED choice: fusing all orders
    # into one flattened struct array halves the scans but materializes
    # 3x|chars| (n, gram) structs per row before exploding — 2.6x slower
    # at sf1 (33.7 s vs 12.7 s) and sf5 (93 s vs 55 s). The corpus scan
    # is the cheap part (compressed text, column-pruned); the explode
    # dominates, so three streaming explodes beat one materialized array.
    per_n = None
    for n in range(1, MAX_N + 1):
        grams_n = sides.select(
            "pid",
            "side",
            F.lit(n).alias("n"),
            # guard texts shorter than n: Spark's sequence(1, 0) is
            # DESCENDING ([1, 0]), which would emit two phantom n-grams —
            # the same pitfall doc_shingles documents
            F.explode(
                F.expr(
                    f"CASE WHEN length(s) >= {n}"
                    f" THEN transform(sequence(1, length(s) - {n - 1}), i -> substring(s, i, {n}))"
                    f" ELSE array() END"
                )
            ).alias("gram"),
        )
        per_n = grams_n if per_n is None else per_n.unionByName(grams_n)
    counts = per_n.groupBy("pid", "side", "n", "gram").agg(F.count("*").alias("cnt"))
    cand = counts.filter(F.col("side") == "c").drop("side").withColumnRenamed("cnt", "c_cnt")
    ref = counts.filter(F.col("side") == "r").drop("side").withColumnRenamed("cnt", "r_cnt")
    joined = cand.join(ref, ["pid", "n", "gram"], "full").select(
        "n",
        F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
        F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
    )
    agg = joined.groupBy("n").agg(
        F.sum(F.least("c_cnt", "r_cnt")).cast("bigint").alias("clip"),
        F.sum("c_cnt").cast("bigint").alias("cand_total"),
        F.sum("r_cnt").cast("bigint").alias("ref_total"),
    )
    p = F.col("clip").cast("double") / F.col("cand_total").cast("double")
    r = F.col("clip").cast("double") / F.col("ref_total").cast("double")
    b2 = float(BETA * BETA)
    fb = F.coalesce(F.try_divide((1.0 + b2) * p * r, b2 * p + r), F.lit(0.0))
    scored = agg.select(
        "n", "clip", "cand_total", "ref_total",
        F.round(F.lit(1_000_000.0) * fb).cast("bigint").alias("f_micros"),
    )
    wide_cols = []
    for n in range(1, MAX_N + 1):
        for c in ("clip", "cand_total", "ref_total", "f_micros"):
            # coalesce: an order with no n-grams anywhere (every text
            # shorter than n) has no group row — report exact 0, not NULL
            wide_cols.append(
                F.coalesce(F.max(F.when(F.col("n") == n, F.col(c))), F.lit(0))
                .cast("bigint")
                .alias(f"{c}_{n}")
            )
    wide = scored.groupBy().agg(*wide_cols)
    mean_f = F.expr(
        "CAST(round(("
        + " + ".join(f"CAST(f_micros_{n} AS DOUBLE)" for n in range(1, MAX_N + 1))
        + f") / {MAX_N}.0) AS BIGINT)"
    )
    return wide.select("*", mean_f.alias("chrf_micros"))


def token_f1_pairs(pairs: DataFrame) -> DataFrame:
    """Per-pair token-level F1 — the SQuAD-style answer-overlap metric:
    bag-of-token clipped overlap between candidate and reference, with
    per-pair precision/recall/F1. One row per pair: (pair_id, n_overlap,
    cand_len, ref_len, f1_micros). The per-example granularity that
    corpus-level BLEU/chrF hide — join it back onto example metadata to
    find failure slices.

    Exactness: counts are exact integers from grouped aggregation
    (shared regex tokenization with bleu_ngram_precision); F1 is one
    guarded float per pair (zero overlap -> exact 0, no 0/0), quantized
    to micros. Scale: one scan explodes both sides; the clip join is a
    full-outer on pre-collapsed (pair, token) counts — full-outer so
    reference-only tokens still count toward recall's denominator.
    "One row per pair" holds even when BOTH sides tokenize to zero
    tokens: such pairs produce no (pid, tok) rows at all, so the result
    is left-joined back onto the distinct pair-id set and they surface
    as exact (0, 0, 0, 0) rows instead of silently disappearing from
    downstream metadata joins.
    """
    sides = pairs.select(
        F.col("pair_id").alias("pid"),
        F.explode(
            F.create_map(F.lit("c"), F.col("cand_text"), F.lit("r"), F.col("ref_text"))
        ).alias("side", "txt"),
    )
    toks = sides.select(
        "pid", "side", F.explode(F.split(F.lower("txt"), "[^a-z0-9]+")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("pid", "side", "tok").agg(F.count("*").alias("cnt"))
    cand = counts.filter(F.col("side") == "c").drop("side").withColumnRenamed("cnt", "c_cnt")
    ref = counts.filter(F.col("side") == "r").drop("side").withColumnRenamed("cnt", "r_cnt")
    per_pair = (
        # list-key full-outer join: Spark already coalesces pid/tok into
        # single output columns
        cand.join(ref, ["pid", "tok"], "full")
        .groupBy(F.col("pid").alias("pair_id"))
        .agg(
            F.sum(
                F.least(F.coalesce("c_cnt", F.lit(0)), F.coalesce("r_cnt", F.lit(0)))
            )
            .cast("bigint")
            .alias("n_overlap"),
            F.sum(F.coalesce("c_cnt", F.lit(0))).cast("bigint").alias("cand_len"),
            F.sum(F.coalesce("r_cnt", F.lit(0))).cast("bigint").alias("ref_len"),
        )
    )
    p = F.col("n_overlap").cast("double") / F.col("cand_len").cast("double")
    r = F.col("n_overlap").cast("double") / F.col("ref_len").cast("double")
    f1 = F.when(
        F.col("n_overlap") > 0,
        F.round(F.lit(1_000_000.0) * (2.0 * p * r) / (p + r)),
    ).otherwise(F.lit(0))
    scored = per_pair.select(
        F.col("pair_id").cast("bigint").alias("pair_id"),
        "n_overlap",
        "cand_len",
        "ref_len",
        f1.cast("bigint").alias("f1_micros"),
    )
    # fully-empty pairs (no tokens on either side) vanish from the token
    # relation — restore them as exact-zero rows so output is 1 row/pair
    ids = pairs.select(F.col("pair_id").cast("bigint").alias("pair_id")).distinct()
    return ids.join(scored, "pair_id", "left").select(
        "pair_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("n_overlap", "cand_len", "ref_len", "f1_micros")
        ],
    )


def hapax_ratio_by(docs: DataFrame) -> DataFrame:
    """Per-group hapax share: of each group's distinct token types, how
    many are corpus-global hapax legomena (frequency exactly 1)? One row
    per group: (group_key, n_tokens, n_types, n_hapax_types,
    hapax_ppm = 1e6 * n_hapax_types / n_types). The vocabulary-novelty
    probe that separates sources contributing fresh long-tail vocabulary
    from sources re-treading the common head — read next to
    corpus_zipf_fit and source_lang_diversity when weighing mixture
    shares. (A corpus-global hapax necessarily lives in exactly one
    group, so sum(n_hapax_types) over groups = global hapax count — a
    cheap cross-check.)

    Exactness: all counts are exact integers from grouped aggregation
    on the whitespace-lowercase tokenization shared with text_top_terms.
    Scale: ONE corpus scan explodes tokens into (group, token) cells
    that collapse map-side; the global-frequency relation derives from
    those same cells (no second scan) and joins back on the token
    dictionary — the same corpus-read-once discipline as the PMI/BM25
    stack.
    """
    cells = (
        docs.select(
            F.col("source").alias("g"),
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("g", "tok")
        .agg(F.count("*").alias("c"))
    )
    global_freq = cells.groupBy("tok").agg(F.sum("c").alias("cf"))
    j = cells.join(global_freq, "tok")
    out = j.groupBy(F.col("g").alias("group_key")).agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum((F.col("cf") == 1).cast("long")).cast("bigint").alias("n_hapax_types"),
    )
    return out.select(
        "group_key",
        "n_tokens",
        "n_types",
        "n_hapax_types",
        F.expr("(n_hapax_types * 1000000) div n_types").alias("hapax_ppm"),
    )


def kn_bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score, integer-exact — the
    standard smoothed n-gram model (the one real LM-quality filters use)
    on top of bigram_surprisal's raw conditional: with discount d = 3/4,

        P_KN(w|p) = (max(c(p,w) - d, 0) + d * T(p) * Pcont(w)) / c(p)
        Pcont(w)  = N1plus(.w) / N_bigram_types

    where T(p) = distinct continuation types after p and N1plus(.w) =
    distinct predecessors of w. KN's continuation probability scores a
    word by how many CONTEXTS it follows, not how often it occurs — the
    canonical fix for raw-count overconfidence on frequent-but-rigid
    tokens. Scoring observed pairs (c2 >= 1), the probability is the
    exact rational
        ((4*c2 - 3) * Nt + 3 * T(p) * N1w) / (4 * Nt * c1),
    so the charged bits are floor(log2(den DIV num)) via the same
    bin()-length integer arithmetic as the raw bigram model — no float
    log anywhere, both engines reproduce bit-exactly.

    Plan adds two vocabulary-bounded dictionaries to bigram_surprisal's
    (continuation-type counts per prev, predecessor-type counts per tok)
    plus a 1-row bigram-type total broadcast.

    Overflow headroom: den = 4 * N_bigram_types * c(p) must stay under
    2^63 (~1e9 types x 1e9 max unigram count) — shard the vocabulary
    past that.
    """
    # The post-explode repartition doubles as a MATERIALIZATION point for
    # the pair frame's consumers (see bigram_surprisal — same r8-opt sf1
    # A/B verdict: exchange shape beats both the compact pre-explode
    # variant and a localCheckpoint).
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "tok"),
    )
    toks = toks.repartition(toks.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    pairs = toks.withColumn("prev", F.lag("tok").over(w)).filter(F.col("prev").isNotNull())
    uni = pairs.groupBy("prev").agg(F.count("*").alias("c1"))
    bi = pairs.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    cont = bi.groupBy("prev").agg(F.count("*").alias("tp"))  # T(p)
    pred = bi.groupBy("tok").agg(F.count("*").alias("n1w"))  # N1plus(.w)
    ntypes = bi.agg(F.count("*").alias("nt"))
    num = (4 * F.col("c2") - 3) * F.col("nt") + 3 * F.col("tp") * F.col("n1w")
    den = 4 * F.col("nt") * F.col("c1")
    scored = (
        pairs.join(bi, ["prev", "tok"])
        .join(uni, "prev")
        .join(cont, "prev")
        .join(pred, "tok")
        .crossJoin(F.broadcast(ntypes))
        .withColumn("__num", num.cast("long"))
        .withColumn("__den", den.cast("long"))
        .withColumn(
            "bits",
            F.length(F.bin(F.expr("__den DIV __num"))).cast("long") - 1,
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("CAST((sum(bits) * 1000) DIV count(*) AS BIGINT)").alias(
            "mean_millibits"
        ),
    )


def stupid_backoff_trigram(docs: DataFrame) -> DataFrame:
    """Trigram stupid-backoff LM scored on a HELD-OUT split, integer-
    exact — the web-scale smoothing Brants et al. built for exactly this
    setting (count dictionaries too large for principled discounting):

        S(w3|w1 w2) = c(w1w2w3)/c(w1w2)        if the trigram was seen
                    = 0.4 * c(w2w3)/c(w2)      else if the bigram was
                    = 0.4^2 * c(w3)/N          else if the word was
                    = 0.4^2 * 1/N              else (OOV)

    Train counts come from docs with id % 2 == 0; scoring runs
    over the OTHER docs, so the backoff path actually fires (scoring the
    training corpus itself never leaves the first branch — the mistake
    this operator's split contract exists to avoid). kn_bigram_surprisal
    answers "how surprising is each doc under the corpus?"; this answers
    the LM-eval question "how well does a trained model transfer?", and
    its per-level hit counts (n_tri/n_bi/n_uni/n_oov) are the coverage
    diagnostic a dedup/contamination audit reads directly.

    Exactness: 0.4 = 2/5, so 1/S is the exact rational 5^j*den /
    (2^j*num) at backoff depth j, and the charged bits are
    floor(log2(.)) via the same bin()-length integer arithmetic as the
    KN/bigram models — no float log, bit-identical in any engine.
    Headroom: 25*N must fit int64 (N <= ~3.7e17 train tokens).

    Scale shape: one tokenize pass per side; train collapses to four
    count dictionaries (trigram/context/bigram/unigram — vocabulary-
    bounded) + a 1-row token total; scoring is four dictionary
    left-joins on the held-out trigram frame. Doc-sized windows only
    for adjacency (partitioned by doc).
    """
    from pyspark.sql import Window as W

    # compact pre-explode repartition (doc_shingles pattern): shuffle one
    # array row per doc, not the exploded token stream; Generate preserves
    # the hash(id) partitioning the lag window needs
    pre = docs.select(
        F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("__arr")
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    toks = pre.select(F.col("doc_id"), F.posexplode("__arr").alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    tri = (
        toks.withColumn("w2", F.lag("tok", 1).over(w))
        .withColumn("w1", F.lag("tok", 2).over(w))
        .filter(F.col("w1").isNotNull())
        .select(F.col("doc_id"), "w1", "w2", F.col("tok").alias("w3"))
    )
    # materialize the trigram frame ONCE: it fans out to seven consumers
    # (five train count dictionaries, the train total, and the held-out
    # scoring side), each of which would otherwise re-run the tokenize +
    # repartition + per-doc lag window pipeline from the parquet scan —
    # measured 15.3 s -> ~2 s at sf0.01 for the registry query (guide §5:
    # persist only when re-used AND recompute is the expensive side).
    tri = tri.localCheckpoint(eager=True)
    is_train = (F.col("doc_id") % 2) == 0
    train, held = tri.filter(is_train), tri.filter(~is_train)

    c_tri = train.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    c_ctx = train.groupBy("w1", "w2").agg(F.count("*").alias("cctx"))
    c_big = train.groupBy("w2", "w3").agg(F.count("*").alias("cb"))
    c_un2 = train.groupBy("w2").agg(F.count("*").alias("cu2"))
    c_uni = train.groupBy("w3").agg(F.count("*").alias("cw"))
    n_tot = train.agg(F.count("*").cast("long").alias("n_train"))

    j = (
        held.join(c_tri, ["w1", "w2", "w3"], "left")
        .join(c_ctx, ["w1", "w2"], "left")
        .join(c_big, ["w2", "w3"], "left")
        .join(c_un2, ["w2"], "left")
        .join(c_uni, ["w3"], "left")
        .crossJoin(F.broadcast(n_tot))
    )
    blen = lambda e: F.length(F.bin(e)).cast("long") - 1  # noqa: E731
    bits = (
        F.when(F.col("c3").isNotNull(), blen(F.expr("cctx DIV c3")))
        .when(F.col("cb").isNotNull(), blen(F.expr("(5 * cu2) DIV (2 * cb)")))
        .when(F.col("cw").isNotNull(), blen(F.expr("(25 * n_train) DIV (4 * cw)")))
        .otherwise(blen(F.expr("(25 * n_train) DIV 4")))
    )
    level = (
        F.when(F.col("c3").isNotNull(), F.lit("tri"))
        .when(F.col("cb").isNotNull(), F.lit("bi"))
        .when(F.col("cw").isNotNull(), F.lit("uni"))
        .otherwise(F.lit("oov"))
    )
    scored = j.select(F.col("doc_id"), bits.alias("bits"), level.alias("lv"))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("CAST((sum(bits) * 1000) DIV count(*) AS BIGINT)").alias(
            "mean_millibits"
        ),
        F.sum((F.col("lv") == "tri").cast("long")).cast("long").alias("n_tri_hit"),
        F.sum((F.col("lv") == "bi").cast("long")).cast("long").alias("n_bi_hit"),
        F.sum((F.col("lv") == "uni").cast("long")).cast("long").alias("n_uni_hit"),
        F.sum((F.col("lv") == "oov").cast("long")).cast("long").alias("n_oov"),
    )
