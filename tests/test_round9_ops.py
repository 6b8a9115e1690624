"""Round-9 optimization tests: the ngram-jaccard strategy choice (prefix
join vs dense blocked bitset join) and the PPJoin positional filter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cartography_spark.operators import dedup as dd


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture()
def overlapping_docs(spark):
    # heavily overlapping texts: tiny trigram vocab, dense similarity —
    # the regime where the dense strategy must fire and win
    texts = [
        (1, "the quick brown fox jumps", "en"),
        (2, "the quick brown fox jumped", "en"),
        (3, "the quick brown cat jumps", "en"),
        (4, "a quick brown fox jumps", "en"),
        (5, "the quick brown fox jumps", "de"),
        (6, "the quick brown fox leaps", "de"),
        (7, "entirely different words here", "en"),
        (8, "the quick brown fox jumps now", "en"),
    ]
    return spark.createDataFrame(texts, "doc_id long, text string, lang string")


def test_ngram_dense_and_prefix_strategies_identical(spark, overlapping_docs, monkeypatch):
    monkeypatch.setattr(dd, "DENSE_JACCARD_BROADCAST_BYTES", 0)  # force the prefix path
    p = dd.ngram_jaccard_pairs(overlapping_docs)
    p_plan = _plan(p)
    p_rows = _rows(p)
    monkeypatch.setattr(dd, "DENSE_JACCARD_BROADCAST_BYTES", 64 * 1024 * 1024)
    d = dd.ngram_jaccard_pairs(overlapping_docs)
    d_plan = _plan(d)
    d_rows = _rows(d)
    # identical output...
    assert p_rows == d_rows and len(p_rows) > 0
    # ...from genuinely different physical strategies: the prefix path
    # ranks shingles with a per-doc window; the dense path has no window
    # in the returned plan and carries the popcount filter
    assert "row_number" in p_plan
    assert "row_number" not in d_plan
    assert "bit_count" in d_plan


def test_ngram_dense_cost_check_prefers_prefix_on_disjoint_docs(spark):
    # zero shared shingles: the inverted-index occurrence bound is 0, so
    # the dense strategy (cross_pairs * nwords > 0) must NOT fire even
    # though the vocab is tiny
    texts = [(1, "aaabbb", "en"), (2, "cccddd", "en"), (3, "eeefff", "en")]
    docs = spark.createDataFrame(texts, "doc_id long, text string, lang string")
    df = dd.ngram_jaccard_pairs(docs)
    assert "row_number" in _plan(df)  # prefix path chosen
    assert df.count() == 0


def test_ngram_positional_filter_keeps_boundary_pair(spark, monkeypatch):
    # shingle sets {abc,bcd,cde} vs {bcd,cde,def}: |inter|=2, |union|=4,
    # jaccard exactly 0.5 — the PPJoin positional filter must not prune it
    docs = spark.createDataFrame(
        [(1, "abcde", "en"), (2, "bcdef", "en")],
        "doc_id long, text string, lang string",
    )
    # prefix path (where the filter lives)
    monkeypatch.setattr(dd, "DENSE_JACCARD_BROADCAST_BYTES", 0)
    rows = _rows(dd.ngram_jaccard_pairs(docs))
    assert rows == [(1, 2, 0.5)]


def test_ngram_dense_respects_lang_blocking(spark, overlapping_docs):
    # docs 1 and 5 are identical texts in different langs: never paired
    df = dd.ngram_jaccard_pairs(overlapping_docs)
    pairs = {(r["a"], r["b"]) for r in df.collect()}
    assert (1, 5) not in pairs
    # in-block identical pair would have jaccard 1.0 with itself only —
    # sanity: all pairs are within one lang
    langs = {r["doc_id"]: r["lang"] for r in overlapping_docs.collect()}
    assert all(langs[a] == langs[b] for a, b in pairs)
