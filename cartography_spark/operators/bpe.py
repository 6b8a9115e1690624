"""Distributed BPE-merge training (tokenizer support for the LLM data
pipeline).

The corpus never re-tokenizes per round: training runs on the DISTINCT-WORD
frequency table (one shuffle to build), which is the classic BPE trick —
pair counts are vocab-bounded (|V| rows, typically 10^5-10^6) regardless of
corpus size, so 100 TB of text costs one word-count aggregation plus
n_merges rounds over the vocabulary. Each round:

1. adjacent symbol pairs per word (transform over the symbol array),
   weighted by word frequency, one groupBy sum;
2. argmax merge (weight desc, pair lexical asc) — ONE row collected to the
   driver (the merge table is the model artifact, driver-side by design,
   like k-means centroids);
3. apply the merge with a left-to-right non-overlapping fold over each
   word's symbol string (greedy BPE application), entirely JVM-side.

The fold is expressed identically in Spark (`aggregate`) and DuckDB
(`list_reduce`), so the whole iterative trainer has an exact SQL oracle.
Reference has no tokenizer; this extends the text-analysis family
(SURVEY.md §2 LLM ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD_RE = "[a-z]+"


def word_freqs(docs: DataFrame) -> DataFrame:
    """(word, wt, sym): lowercase word frequencies with the initial
    space-joined character symbol string ('the' -> 't h e')."""
    words = docs.select(
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("wt"))
        .withColumn(
            "sym",
            F.expr(
                "array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"
            ),
        )
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    # single-symbol words have no pairs; filtering first also keeps the
    # sequence() bound positive (Spark's sequence(1, 0) DESCENDS)
    return (
        wf.filter(F.expr("size(split(sym, ' ')) >= 2"))
        .select(
            "wt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(sym, ' ')) - 1),"
                    " i -> struct(element_at(split(sym, ' '), i) AS l,"
                    "             element_at(split(sym, ' '), i + 1) AS r))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("wt").alias("c"))
    )


def _apply_merge(wf: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (left, right) in every
    word's symbol string, as a fold: acc starts at the first symbol; a step
    merges iff acc's TRAILING symbol is `left` and the next is `right` —
    a symbol just produced by a merge can't merge again this round, which
    is exactly BPE's single-pass application order."""
    merged = left + right
    fold = (
        "aggregate("
        " slice(split(sym, ' '), 2, greatest(size(split(sym, ' ')) - 1, 0)),"
        " element_at(split(sym, ' '), 1),"
        " (acc, x) -> CASE"
        f"   WHEN (acc = '{left}' OR acc LIKE '% {left}') AND x = '{right}'"
        f"   THEN concat(substring(acc, 1, length(acc) - {len(left)}), '{merged}')"
        "   ELSE concat(acc, ' ', x) END)"
    )
    return wf.withColumn("sym", F.expr(fold))


def _apply_merge_frame(wf: DataFrame, m: DataFrame) -> DataFrame:
    """:func:`_apply_merge` with the merge pair read from a 1-row frame
    (``lhs``, ``rhs``, ``merged``) broadcast-left-joined in, instead of
    baked in as literals. Identical greedy fold; the difference is that the
    merge can stay LAZY — the per-round argmax no longer needs its own
    collect() action before the fold can be planned (one Spark job per
    training round instead of two). An EMPTY m (vocabulary fully merged)
    leaves every symbol string unchanged, matching the literal form's
    early-exit."""
    fold = (
        "aggregate("
        " slice(split(sym, ' '), 2, greatest(size(split(sym, ' ')) - 1, 0)),"
        " element_at(split(sym, ' '), 1),"
        " (acc, x) -> CASE"
        "   WHEN lhs IS NOT NULL"
        "    AND (acc = lhs OR endswith(acc, concat(' ', lhs))) AND x = rhs"
        "   THEN concat(substring(acc, 1, length(acc) - length(lhs)), merged)"
        "   ELSE concat(acc, ' ', x) END)"
    )
    return (
        wf.join(F.broadcast(m.select("lhs", "rhs", "merged")), F.lit(True), "left")
        .withColumn("sym", F.expr(fold))
        .drop("lhs", "rhs", "merged")
    )


def bpe_learn_merges(docs: DataFrame, n_merges: int = 4) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus; returns the
    merge table (rank, lhs, rhs, merged, weight). Per round the corpus
    costs nothing — only the vocabulary table is re-folded (checkpointed
    per round to truncate lineage)."""
    wf = word_freqs(docs).localCheckpoint(eager=True)
    # The per-round argmax stays a LAZY 1-row frame that is broadcast into
    # the fold (_apply_merge_frame), so each round is ONE checkpoint job —
    # the old literal-based fold needed a collect() of the argmax BEFORE it
    # could even be planned (2 jobs/round; measured ~12 jobs for the
    # 4-merge bench query, half of them argmax collects). The merge table
    # accumulates as a union of those 1-row frames and is collected once at
    # the end. An exhausted vocabulary yields empty argmax rows, which
    # _apply_merge_frame treats as a no-op — identical to the old break.
    merges: DataFrame | None = None
    for rank in range(1, n_merges + 1):
        m = (
            _pair_counts(wf)
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .select(
                F.lit(rank).alias("rank"),
                F.col("l").alias("lhs"),
                F.col("r").alias("rhs"),
                F.concat(F.col("l"), F.col("r")).alias("merged"),
                F.col("c").cast("long").alias("weight"),
            )
        )
        merges = m if merges is None else merges.unionByName(m)
        if rank < n_merges:
            wf = _apply_merge_frame(wf, m).localCheckpoint(eager=True)
    if merges is None:  # n_merges=0: empty merge table, same schema
        return docs.sparkSession.createDataFrame(
            [], "rank int, lhs string, rhs string, merged string, weight long"
        )
    return merges.select(
        F.col("rank").cast("int"), "lhs", "rhs", "merged", F.col("weight")
    )


def _candidate_pieces(words: DataFrame) -> DataFrame:
    """(w, s, e, piece) for every 0-indexed span [s, e) of length
    2..4 in each distinct word. Both sequence() bounds are
    guaranteed ascending: s <= length-2 and e ranges from s+2 up to
    least(s+4, length) >= s+2."""
    return (
        words.filter(F.length("w") >= 2)
        .select(
            "w",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, length(w) - 2),"
                    " s -> transform(sequence(s + 2, least(s + 4, length(w))),"
                    "       e -> named_struct('s', s, 'e', e))))"
                )
            ).alias("se"),
        )
        .select(
            "w",
            F.col("se.s").alias("s"),
            F.col("se.e").alias("e"),
            F.expr("substring(w, se.s + 1, se.e - se.s)").alias("piece"),
        )
    )


def subword_viterbi_segment(docs: DataFrame, min_count: int = 20) -> DataFrame:
    """Unigram-LM-style Viterbi segmentation (the SentencePiece decoding
    shape, Kudo 2018) with unit piece costs: segment every corpus word into
    the MINIMUM number of vocabulary pieces, where the vocab is mined from
    the data (the 2..4-character substrings of the distinct corpus words
    seen at ``min_count`` positions or more) and single characters are
    always valid (full coverage, the unigram-LM char fallback). Returns per-doc
    (n_words, n_chars, n_pieces).

    Spark-first dataflow — the per-word dynamic program is a pure-Column
    ``aggregate`` fold (whole-JVM, no Python): dp grows one cell per
    position, dp[i] = least(dp[i-1] + 1, min over vocab edges (s -> i) of
    dp[s] + 1); `least` skips the NULL that `array_min` yields for
    positions with no multi-char edge. Everything heavy is vocab-bounded:
    candidate spans and the DP run on DISTINCT words; the corpus is touched
    by one word explode + a broadcast join of the per-word piece counts.
    At 100 TB this is one distinct-word shuffle + one doc_id aggregation.
    Unit costs keep the optimum integer-exact, so a DuckDB recursive-CTE
    oracle hash-matches the whole pipeline."""
    words = docs.select(
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")).alias("w")
    )
    distinct_words = words.distinct()
    pieces = _candidate_pieces(distinct_words)
    vocab = (
        pieces.groupBy("piece")
        .agg(F.count(F.lit(1)).alias("n_positions"))
        .filter(F.col("n_positions") >= min_count)
        .select("piece")
    )
    edges = pieces.join(F.broadcast(vocab), "piece").select("w", "e", "s")
    edge_lists = edges.groupBy("w").agg(
        F.collect_list(F.struct("e", "s")).alias("es")
    )
    dp = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        F.array(F.lit(0)),
        lambda acc, i: F.array_append(
            acc,
            F.least(
                F.element_at(acc, i) + 1,
                F.array_min(
                    F.transform(
                        F.filter("es", lambda x: x["e"] == i),
                        lambda x: F.element_at(acc, x["s"] + 1) + 1,
                    )
                ),
            ),
        ),
    )
    segmented = (
        distinct_words.join(edge_lists, "w", "left")
        .select("w", F.element_at(dp, F.length("w") + 1).alias("np"))
    )
    doc_words = docs.select(
        F.col("doc_id"),
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")).alias("w"),
    )
    return (
        doc_words.join(F.broadcast(segmented), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("np").cast("long").alias("n_pieces"),
        )
    )


def bpe_segment(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge list to a corpus: (id, n_words, n_symbols) —
    the compression measurement you run after training. Same fold as
    training, applied in merge-rank order."""
    wf = docs.select(
        F.col("doc_id"),
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")).alias("word"),
    ).withColumn(
        "sym",
        F.expr("array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"),
    )
    for left, right in merges:
        wf = _apply_merge(wf, left, right)
    return wf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size(F.split("sym", " "))).cast("long").alias("n_symbols"),
    )
