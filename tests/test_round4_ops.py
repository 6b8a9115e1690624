"""Round-4 operators: character entropy, shingle containment, NFC dedup."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cartography_spark.operators.dedup import shingle_containment_pairs
from cartography_spark.operators.textprep import unicode_nfc_normalize
from cartography_spark.operators.textstats import char_entropy


def test_char_entropy_extremes(spark):
    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdefgh"), (3, "aabb")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    # single repeated char: zero entropy
    assert rows[1]["entropy_millinat"] == 0
    assert rows[1]["n_distinct"] == 1
    # 8 distinct chars: ln(8) nats = 2079 millinats exactly
    assert rows[2]["entropy_millinat"] == round(math.log(8) * 1000)
    # two chars, uniform: ln(2) = 693 millinats
    assert rows[3]["entropy_millinat"] == round(math.log(2) * 1000)
    assert rows[3]["n_chars"] == 4


def test_char_entropy_empty_text_produces_no_row(spark):
    docs = spark.createDataFrame([(1, ""), (2, None), (3, "xy")], "doc_id long, text string")
    ids = {r["doc_id"] for r in char_entropy(docs).collect()}
    assert ids == {3}


def test_containment_catches_excerpt_jaccard_misses(spark):
    base = "the quick brown fox jumps over the lazy dog again and again" * 3
    excerpt = base[: len(base) // 3]
    docs = spark.createDataFrame(
        [(1, base, "en"), (2, excerpt, "en")], "doc_id long, text string, lang string"
    )
    rows = shingle_containment_pairs(docs, min_permille=900).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"]) == (1, 2)
    # the excerpt's shingles are (almost) all inside the source
    small = min(r["sz_a"], r["sz_b"])
    side = "cont_a_permille" if r["sz_a"] == small else "cont_b_permille"
    assert r[side] >= 900


def test_containment_short_docs_yield_no_shingles(spark):
    # Spark's sequence(1, 0) DESCENDS to [1, 0] instead of being empty; an
    # unguarded shingle transform emits ''/partial shingles for docs with
    # length < n, so two empty docs in the same lang produced a spurious
    # containment pair the generate_series-based oracle never does.
    docs = spark.createDataFrame(
        [(1, "", "en"), (2, "", "en"), (3, "ab", "en"), (4, "ab", "en"), (5, None, "en")],
        "doc_id long, text string, lang string",
    )
    assert shingle_containment_pairs(docs, min_permille=500).count() == 0
    # exactly-n-length docs still pair up normally
    docs2 = spark.createDataFrame(
        [(1, "abc", "en"), (2, "abc", "en")], "doc_id long, text string, lang string"
    )
    rows = shingle_containment_pairs(docs2, min_permille=900).collect()
    assert len(rows) == 1 and rows[0]["inter"] == 1


def test_containment_blocked_by_lang(spark):
    docs = spark.createDataFrame(
        [(1, "shared text body", "en"), (2, "shared text body", "fr")],
        "doc_id long, text string, lang string",
    )
    assert shingle_containment_pairs(docs, min_permille=500).count() == 0


def test_nfc_normalize_fuses_combining_marks(spark):
    df = spark.createDataFrame(
        [(1, "café"), (2, "café"), (3, None)], "id long, t string"
    )
    out = {r["id"]: r["norm"] for r in unicode_nfc_normalize(df, "t", "norm").collect()}
    assert out[1] == out[2] == "café"
    assert out[3] is None


def test_nfc_normalize_preserves_schema_and_is_idempotent(spark):
    df = spark.createDataFrame([(1, "éx", 9)], "id long, t string, extra int")
    once = unicode_nfc_normalize(df, "t", "norm")
    assert once.columns == ["id", "t", "extra", "norm"]
    twice = unicode_nfc_normalize(once.select("id", F.col("norm").alias("t"), "extra"), "t", "norm")
    assert twice.first()["norm"] == once.first()["norm"]


def test_mmr_prefers_diversity_over_near_duplicates(spark):
    from cartography_spark.operators.similarity import mmr_rerank

    # query q; a-cluster: three near-identical vectors very close to q;
    # b: a distinct direction still relevant. Plain top-3 = the a-cluster;
    # MMR must swap a near-dup out for b.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.14, 0.0, 0.0]),
        (2, [0.99, 0.141, 0.0, 0.0]),
        (3, [0.99, 0.139, 0.0, 0.0]),
        (4, [0.8, -0.6, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, [1.0, 0.0, 0.0, 0.0], k=3, pool=4, lam=0.5)
    picked = [r["vec_id"] for r in out.orderBy("rank").collect()]
    assert picked[0] in (1, 2, 3)  # most relevant first
    assert 4 in picked  # diversity pulls in the distinct direction
    assert len(picked) == 3


def test_mmr_first_pick_is_plain_top1(spark):
    from cartography_spark.operators.similarity import mmr_rerank

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, [0.0, 1.0, 0.0, 0.0], k=2, pool=3, query_id=99)
    first = out.filter("rank = 1").first()
    assert first["vec_id"] == 1
