"""North-star LLM-data-pipeline operator inventory over documents /
embeddings: dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity
search (brute-force + LSH ANN), text analysis, multimodal metadata, and the
permission-evaluation wildcard join.

Every hash here is md5-derived (operators/dedup.py portable_hash32) so the
DuckDB oracle reproduces signatures bit-exactly — the dedup pipelines are
verified end-to-end, not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.operators import dedup as dd
from cartography_spark.operators import multimodal as mm
from cartography_spark.operators import similarity as sim
from cartography_spark.operators import textstats as ts
from cartography_spark.plans.registry import query
from cartography_spark.session import memo
from cartography_spark.sources.parquet import load_table

KCENTER_K = 5
MMR_K = 5
LOGREG_ITERATIONS = 3
MMR_LAMBDA = 0.7


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_with_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus has no exact duplicates, so inject copies of
    doc_id < 50 at id+1000000 (deterministic)."""
    d = _docs(spark, sf_dir)
    copies = d.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + 1000000)
    return d.unionByName(copies)


_DUPES_SQL = """
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id < 50
"""


@query(
    "dedup_exact",
    oracle=f"""
    WITH d AS ({_DUPES_SQL}),
    h AS (SELECT doc_id, md5(text) AS h FROM d),
    g AS (SELECT h, min(doc_id) AS keeper, count(*) AS group_size FROM h GROUP BY h)
    SELECT h.doc_id, h.doc_id = g.keeper AS keep, g.group_size
    FROM h JOIN g USING (h)
    """,
    doc="Exact dedup: hash-groupBy, keep lowest id per text hash. One "
    "shuffle on the 128-bit hash; at 100 TB this is the cheapest dedup pass.",
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(_docs_with_dupes(spark, sf_dir))


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a, b, ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
    """,
    doc="Exact n-gram Jaccard near-dup pairs via inverted-index self-join, "
    "blocked by lang. |A∩B| from the shingle join, |A∪B|=|A|+|B|-|A∩B|.",
    tags=("llm", "dedup"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(_docs(spark, sf_dir))


@query(
    "dedup_minhash_lsh",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    mh AS (
      SELECT doc_id, p,
             CAST(min((h * (((p + 1) * 2654435761) % 2147483647)
                       + (((p + 1) * 40503) % 2147483647)) % 2147483647) AS BIGINT) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p)
      GROUP BY doc_id, p
    ),
    bands AS (
      SELECT doc_id, p % 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY p) AS bsig
      FROM mh GROUP BY doc_id, band
    )
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    """,
    doc="MinHash (16 md5-derived permutations) + banded LSH (4 bands x 4 "
    "rows): candidate pairs share at least one band signature. Signatures "
    "reproduce bit-exactly in the oracle — full pipeline verification.",
    tags=("llm", "dedup"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = dd.minhash_wide(_docs(spark, sf_dir), num_perm=16)
    return dd.lsh_candidate_pairs(wide)


@query(
    "dedup_simhash_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
      GROUP BY doc_id, b
    ),
    fp AS (
      SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b
      ON (a.simhash >> 24) = (b.simhash >> 24) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-duplicate pairs: hamming distance <= 3 over the "
    "32-bit fingerprints, blocked on the top byte so the self-join probes "
    "256 buckets instead of the cross product (at 64-bit scale you'd use "
    "4 rotated-table blocks — same plan shape).",
    tags=("llm", "dedup"),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = dd.simhash(_docs(spark, sf_dir))
    return dd.simhash_near_pairs(fp, max_hamming=3)


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    p AS (
      SELECT a, b FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
    ),
    und AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
    r AS (
      SELECT doc_id AS v, doc_id AS lbl, 0 AS hops FROM documents
      UNION
      SELECT r.v, und.dst, r.hops + 1 FROM r JOIN und ON r.lbl = und.src WHERE r.hops < 6
    )
    SELECT v AS doc_id, min(lbl) AS cluster, (min(lbl) = v) AS keep
    FROM r GROUP BY v
    """,
    doc="Near-dup clustering: Jaccard>=0.5 pairs -> connected components "
    "via bounded min-label propagation (6 rounds = min id within 6 hops; "
    "exact for clusters with radius<=6 from their canonical doc) -> keep "
    "flag on the canonical (minimum-id) document per cluster — the step a "
    "real dedup pipeline runs after pair generation.",
    tags=("llm", "dedup"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = dd.ngram_jaccard_pairs(docs)
    return dd.cluster_min_label(pairs, docs, max_iter=6)


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
    doc="SimHash 32-bit fingerprint: per-token md5-derived hash, ±1 votes "
    "per bit, fingerprint bit set iff vote sum positive. Token x bit "
    "explode then one map-side-combinable shuffle.",
    tags=("llm", "dedup"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(_docs(spark, sf_dir))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").head()
    )
    return [float(x) for x in row[0]]


_COSINE_SQL = """
      list_aggregate(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                     i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')))
"""


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({_COSINE_SQL}, 4) AS cosine
    FROM embeddings e CROSS JOIN q
    ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """,
    doc="Brute-force exact cosine top-k against one query vector "
    "(vec_id=0): zip_with/aggregate dot product JVM-side, TakeOrdered for "
    "the top-k — the exact baseline every ANN variant is measured against.",
    tags=("llm", "similarity"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


@query(
    "contrastive_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.qid, e.vec_id, ROUND({_COSINE_SQL}, 4) AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    band AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM scored WHERE cosine >= 0.2 AND cosine < 0.45
    )
    SELECT qid, vec_id, cosine, CAST(rn AS INT) AS rn
    FROM band WHERE rn <= 5
    """,
    doc="Hard-negative mining for contrastive embedding training: per "
    "anchor (vec_id < 8, the constant query frame retrieval_eval_ndcg "
    "also uses), the top-5 most similar vectors inside the hard-negative "
    "band 0.2 <= cos < 0.45 — similar enough to be informative, below "
    "the near-dup ceiling that would make them false negatives (the "
    "batch producer of triplet/InfoNCE training pairs). Exact cosine "
    "JVM-side (zip_with fold), band filter BEFORE the per-anchor top-k "
    "window so the ranked set is already pruned; the anchor frame is a "
    "broadcast constant, so the scan parallelizes over the corpus side "
    "at any scale, and the per-anchor window sorts only banded "
    "candidates. Cosine rounded to 4dp on both engines before the "
    "band/rank so the filter and order are bit-identical.",
    tags=("llm", "similarity"),
)
def q_contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cartography_spark.operators.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    # factor the per-side work out of the 8-way cross join: the corpus
    # vector's cast and norm are computed once per vector (below the
    # join) instead of once per (vector, anchor) pair; only the dot
    # product is per-pair. cosine = dot/(norm_a*norm_b) is the exact
    # expression cosine_similarity composes, so the doubles (and the
    # rounded band/rank) are bit-identical. Interleaved A/B (r8 opt):
    # sf1 3.90 -> 2.16 s min, sf0.1 0.69 -> 0.57 s min.
    ev = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("ev"),
    ).withColumn("en", _norm(F.col("ev")))
    qs = ev.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv"), F.col("en").alias("qn")
    )
    cos = _dot(F.col("ev"), F.col("qv")) / (F.col("en") * F.col("qn"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        ev.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(cos, 4).alias("cosine"))
        .filter((F.col("cosine") >= 0.2) & (F.col("cosine") < 0.45))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cosine", F.col("rn").cast("int").alias("rn"))
    )


_SIG_SQL = """
    list_aggregate(list_transform(generate_series(0, 7), i ->
      CASE WHEN list_aggregate(list_transform(generate_series(1, 64), j ->
           CAST({vec}[j] AS DOUBLE) *
           (CASE WHEN ('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || CAST(j - 1 AS VARCHAR)), 1, 1))::BIGINT % 2 = 0
                 THEN 1.0 ELSE -1.0 END)), 'sum') > 0
      THEN (1::BIGINT << i) ELSE 0 END), 'sum')
"""


@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sigs AS (
      SELECT e.vec_id, e.embedding, {_SIG_SQL.format(vec='e.embedding')} AS sig
      FROM embeddings e
    ),
    qsig AS (SELECT {_SIG_SQL.format(vec='q.qv')} AS sig FROM q)
    SELECT e.vec_id, ROUND({_COSINE_SQL}, 4) AS cosine
    FROM sigs e CROSS JOIN q CROSS JOIN qsig
    WHERE e.sig = qsig.sig
    ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """,
    doc="ANN via random-hyperplane LSH: 8 md5-derived ±1 hyperplanes -> "
    "8-bit signature; filter to the query's bucket then exact re-rank. The "
    "bucket filter is the scale path (prunes the scan to ~1/256 of rows).",
    tags=("llm", "similarity"),
)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_ann_topk(emb, _query_vec(spark, sf_dir), dim=64, k=10)


def _cos64(a: str, b: str) -> str:
    return f"""
      list_aggregate(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, 64), i -> {a}[i] * {a}[i]), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, 64), i -> {b}[i] * {b}[i]), 'sum')))
    """


@query(
    "similarity_ann_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    qn AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    seeds AS (SELECT vec_id AS cid, d, qv AS c FROM qn WHERE vec_id < 160),
    td AS (SELECT qn.vec_id, s.cid, sum((qn.qv - s.c) * (qn.qv - s.c)) AS dist
           FROM qn JOIN seeds s USING (d) GROUP BY qn.vec_id, s.cid),
    ta AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM td) WHERE rn = 1),
    tc AS (SELECT a.cid, qn.d, CAST(floor(CAST(sum(qn.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM qn JOIN ta a USING (vec_id) GROUP BY a.cid, qn.d),
    cents AS (SELECT cid, list_transform(list(c ORDER BY d), x -> x / 1000000.0) AS cv
              FROM tc GROUP BY cid),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    assign AS (
      SELECT vec_id, v, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
      FROM (SELECT e.vec_id, e.v, c.cid, {_cos64('e.v', 'c.cv')} AS cos
            FROM e CROSS JOIN cents c)
    ),
    probes AS (
      SELECT cid FROM cents CROSS JOIN q
      ORDER BY {_cos64('cents.cv', 'q.qv')} DESC, cid ASC LIMIT 4
    )
    SELECT a.vec_id, ROUND({_cos64('a.v', 'q.qv')}, 4) AS cosine
    FROM assign a JOIN probes USING (cid) CROSS JOIN q
    WHERE a.rn = 1
    ORDER BY cosine DESC, a.vec_id ASC LIMIT 10
    """,
    doc="IVF ANN with a TRAINED coarse quantizer: one integer-exact k-means "
    "round (clustering.trained_centroid_frame — bigint micro-units, "
    "floor-division means, so training itself is oracle-reproducible) "
    "over the deterministic 1/10 id-slice sample yields 16 data-adaptive "
    "cells — quantizer training needs O(k*1000) examples, never the full "
    "corpus; the query probes its 4 nearest cells and re-ranks exactly "
    "inside — scans ~n_probe/n_centroids of the data.",
    tags=("llm", "similarity"),
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = _ivf_index(spark, sf_dir)
    return sim.ivf_ann_topk(
        emb,
        _query_vec(spark, sf_dir),
        k=10,
        n_centroids=16,
        n_probe=4,
        centroids=cents,
        assigned=assigned,
    )


# IVF index-build/probe split: quantizer training AND stored-vector cell
# assignment depend only on the corpus (sf_dir) and training params, so both
# are built ONCE per application and reused by every probe — exactly how
# production IVF works (inverted lists are built at index time, never per
# query). The k x dim centroid table is driver-small (16 x 64 doubles):
# collected and replayed as a literal broadcast frame. The assigned inverted
# lists are corpus-sized: kept as a localCheckpointed frame.
def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    from cartography_spark.operators.clustering import trained_centroid_frame

    emb = load_table(spark, sf_dir, "embeddings")

    def train() -> list:
        return [
            (r["cid"], list(r["cv"]))
            for r in trained_centroid_frame(emb, sample_mod=10).collect()
        ]

    rows = memo(spark, ("ivf_centroids", sf_dir), train)
    cents = spark.createDataFrame(rows, "cid bigint, cv array<double>")

    def assign() -> DataFrame:
        return sim.ivf_assign(emb, cents).localCheckpoint(eager=True)

    return cents, memo(spark, ("ivf_assign", sf_dir), assign)


@query(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
           ROUND(length(regexp_replace(text, '[^\s]', '', 'g')) / greatest(length(text), 1), 6) AS space_ratio,
           ROUND(list_aggregate(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> CAST(length(t) AS BIGINT)), 'sum')
                 / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 6) AS avg_token_len
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
    "(word-pieces/digit-runs/symbols) + char-class ratios, all codegen'd "
    "string expressions.",
    tags=("llm", "text"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.token_stats(_docs(spark, sf_dir))


@query(
    "text_quality_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lower(text) AS t,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           ROUND(0.4 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (1.0 - least((length(regexp_replace(t, '[a-z0-9\s]', '', 'g')) / greatest(length(t), 1)) * 5, 1.0))
               + 0.3 * least((len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) / greatest(len(toks), 1)) * 5, 1.0), 6) AS quality,
           ROUND(length(regexp_replace(t, '[a-z0-9\s]', '', 'g')) / greatest(length(t), 1), 6) AS punct_ratio,
           ROUND(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) / greatest(len(toks), 1), 6) AS stopword_ratio
    FROM t
    """,
    doc="Quality scoring: length/punctuation/stopword-ratio heuristic in "
    "[0,1] — the standard cheap pre-filter before model-based scoring.",
    tags=("llm", "text"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.quality_score(_docs(spark, sf_dir))


@query(
    "text_language_id",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, list_sort([
        {'hits': len(list_filter(toks, x -> x IN ('的','是','了'))), 'lang': 'zh'},
        {'hits': len(list_filter(toks, x -> x IN ('le','la','et'))), 'lang': 'fr'},
        {'hits': len(list_filter(toks, x -> x IN ('el','la','de'))), 'lang': 'es'},
        {'hits': len(list_filter(toks, x -> x IN ('the','and','of'))), 'lang': 'en'},
        {'hits': len(list_filter(toks, x -> x IN ('der','die','und'))), 'lang': 'de'}
      ])[-1] AS best
      FROM t
    )
    SELECT doc_id, best.lang AS predicted_lang, CAST(best.hits AS INT) AS marker_hits FROM scored
    """,
    doc="Language-ID heuristic: marker-word hit counts per language, argmax "
    "with deterministic (hits, lang) tie-break — the plan shape of an "
    "n-gram model join.",
    tags=("llm", "text"),
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.language_id(_docs(spark, sf_dir))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: normalize (lowercase, strip "
    "non-alphanumerics) then md5 — whitespace/punctuation-robust identity.",
    tags=("llm", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.fingerprint(_docs(spark, sf_dir))


@query(
    "dataset_split_hash",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY lang, split
    """,
    doc="Deterministic train/val/test split (80/10/10) via salted-md5 hash "
    "buckets: membership is a pure function of the doc id — stable across "
    "runs, engines, repartitions and incremental re-syncs, unlike "
    "df.sample(). Counts per (lang, split) verify stratification.",
    tags=("llm", "sampling"),
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import assign_splits

    docs = _docs(spark, sf_dir)
    return assign_splits(docs).groupBy("lang", "split").agg(F.count("*").alias("n_docs"))


@query(
    "pipeline_llm_prep",
    oracle=rf"""
    WITH d AS ({_DUPES_SQL}),
    t AS (
      SELECT doc_id, lang, text, lower(text) AS lt,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM d
    ),
    q AS (
      SELECT doc_id,
             ROUND(0.4 * least(len(toks) / 100.0, 1.0)
                 + 0.3 * (1.0 - least((length(regexp_replace(lt, '[a-z0-9\s]', '', 'g')) / greatest(length(lt), 1)) * 5, 1.0))
                 + 0.3 * least((len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) / greatest(len(toks), 1)) * 5, 1.0), 6) AS quality
      FROM t
    ),
    kept AS (
      SELECT t.doc_id, t.lang, t.text, q.quality
      FROM t JOIN q USING (doc_id) WHERE q.quality >= 0.5
    ),
    h AS (SELECT doc_id, md5(text) AS hh FROM kept),
    g AS (SELECT hh, min(doc_id) AS keeper FROM h GROUP BY hh),
    fin AS (
      SELECT kept.* FROM kept JOIN h USING (doc_id) JOIN g USING (hh)
      WHERE doc_id = keeper
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
           max(quality) AS max_quality
    FROM fin GROUP BY lang
    """,
    doc="End-to-end LLM data-prep pipeline: quality filter (>=0.5) -> "
    "exact dedup keeping canonical docs -> per-language corpus stats "
    "(doc count, exact total BPE-ish tokens, max quality) — the composed "
    "workflow a training-data pipeline runs, verified end-to-end as one "
    "plan (Catalyst fuses the three stages; only the dedup groupBy and the "
    "final aggregation shuffle).",
    tags=("llm", "pipeline"),
)
def q_pipeline_llm_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dupes(spark, sf_dir)
    quality = ts.quality_score(docs).select("doc_id", "quality")
    kept = docs.join(quality.filter(F.col("quality") >= 0.5), "doc_id")
    keepers = dd.exact_dedup(kept).filter("keep").select("doc_id")
    fin = kept.join(keepers, "doc_id")
    stats = ts.token_stats(fin).select("doc_id", "n_bpe_tokens")
    return (
        fin.join(stats, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
            F.max("quality").alias("max_quality"),
        )
    )


@query(
    "text_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    counts AS (SELECT lang, tok, count(*) AS n FROM toks GROUP BY lang, tok),
    ranked AS (
      SELECT lang, tok, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rnk
      FROM counts
    )
    SELECT lang, tok, n, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
    """,
    doc="Corpus frequency analysis: top-5 tokens per language (the Zipf "
    "head) — token explode, map-side-combined counts, per-language top-k "
    "window with deterministic (count desc, token asc) tie-break.",
    tags=("llm", "text"),
)
def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    toks = (
        _docs(spark, sf_dir)
        .select("lang", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "tok", "n", "rnk")
    )


# md5 digest bytes as a DuckDB INTEGER list (1-indexed).
_MD5_BYTES = (
    "list_transform(range(16), i -> "
    "('0x' || substring(md5(text), CAST(2*i+1 AS INT), 2))::INTEGER)"
)


@query(
    "multimodal_decode_meta",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents)
    SELECT doc_id,
           4 AS width,
           CAST(4 * (1 + bs[1] % 4) AS INT) AS height,
           CAST(54 + 48 * (1 + bs[1] % 4) AS INT) AS n_bytes,
           3 AS channels,
           list_aggregate(bs, 'sum') / 16.0 AS mean_pixel,
           sqrt(list_aggregate(list_transform(bs, x -> x*x), 'sum') / 16.0
                - (list_aggregate(bs, 'sum') / 16.0)
                  * (list_aggregate(bs, 'sum') / 16.0)) AS std_pixel,
           TRUE AS valid
    FROM b
    """,
    doc="Multimodal image decode: synthesize a REAL 24-bit uncompressed BMP "
    "per doc (4 x 4*(1+b0%4) px, pixel bytes = md5(text) digest tiled), then "
    "decode it with the real BMP parser (header walk + stride-aware numpy "
    "pixel slice) in Arrow-batched mapInPandas. The oracle recomputes dims, "
    "byte size and exact mean/std pixel values from the digest bytes; tiling "
    "makes the per-image stats equal the per-digest stats, and all sums are "
    "integer-exact in float64 so Spark and DuckDB agree bit-for-bit.",
    tags=("llm", "multimodal"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = mm.synthesize_image_column(_docs(spark, sf_dir))
    return mm.decode_image_meta(images)


@query(
    "multimodal_audio_features",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents),
    s AS (
      SELECT doc_id, bs,
             list_transform(range(8), i -> CASE
                 WHEN bs[2*i+1] + 256*bs[2*i+2] >= 32768
                 THEN bs[2*i+1] + 256*bs[2*i+2] - 65536
                 ELSE bs[2*i+1] + 256*bs[2*i+2] END) AS smp
      FROM b
    )
    SELECT doc_id,
           16000 AS sample_rate,
           CAST(16 * (1 + bs[1] % 4) AS INT) AS n_samples,
           16 * (1 + bs[1] % 4) / 16.0 AS duration_ms,
           list_aggregate(list_transform(smp, x -> abs(x)), 'sum') / 8.0 AS mean_amplitude,
           sqrt(list_aggregate(list_transform(smp, x -> x*x), 'sum') / 8.0) AS rms
    FROM s
    """,
    doc="Multimodal audio decode: synthesize a REAL mono PCM16 WAV per doc "
    "(md5 digest as 8 little-endian int16 samples tiled 2*(1+b0%4) times at "
    "16 kHz), then decode with the real RIFF chunk-walking WAV parser in "
    "Arrow-batched mapInPandas (rate, n_samples, duration, mean |amplitude|, "
    "RMS). The oracle rebuilds the int16 samples from the digest bytes; "
    "tiling keeps per-file stats equal to per-digest stats and all sums are "
    "integer-exact in float64.",
    tags=("llm", "multimodal"),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = mm.synthesize_audio_column(_docs(spark, sf_dir))
    return mm.extract_audio_features(audio)


@query(
    "permission_wildcard_eval",
    oracle="""
    WITH statements(pattern, effect) AS (
      VALUES ('MED*', 'Allow'), ('*O*', 'Allow'), ('STANDARD', 'Allow'), ('PROMO', 'Deny')
    ),
    names AS (SELECT DISTINCT p_type AS name FROM part),
    m AS (
      SELECT name, effect
      FROM names LEFT JOIN statements
        ON lower(name) LIKE lower(replace(replace(pattern, '*', '%'), '?', '_'))
    )
    SELECT name,
           (count(CASE WHEN effect = 'Allow' THEN 1 END) > 0
            AND count(CASE WHEN effect = 'Deny' THEN 1 END) = 0) AS allowed
    FROM m GROUP BY name
    """,
    doc="IAM wildcard permission evaluation "
    "(intel/aws/permission_relationships.py:25-254): */? patterns compiled "
    "to LIKE, allow-unless-explicit-deny per name, broadcast theta join — "
    "no Python UDF.",
    tags=("llm", "permissions"),
)
def q_permission_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.permissions import evaluate_policy_grid

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_type").alias("name")).distinct()
    statements = spark.createDataFrame(
        [("MED*", "Allow"), ("*O*", "Allow"), ("STANDARD", "Allow"), ("PROMO", "Deny")],
        "pattern string, effect string",
    )
    return evaluate_policy_grid(names, statements)


@query(
    "similarity_token_cosine_pairs",
    oracle=r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
               FROM documents),
    g AS (
      SELECT doc_id AS doc,
             unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN generate_series(1, greatest(len(toks) - 1, 0))]) AS g
      FROM t
    ),
    tf AS (SELECT doc, g, count(*) AS tf FROM g GROUP BY doc, g),
    nrm AS (SELECT doc, sum(tf * tf) AS nrm FROM tf GROUP BY doc),
    tot AS (SELECT count(*) AS total FROM documents),
    dfk AS (
      SELECT g FROM (SELECT g, count(*) AS df FROM tf GROUP BY g) CROSS JOIN tot
      WHERE df >= 2 AND df <= floor(total / 10)
    ),
    kept AS (SELECT tf.* FROM tf JOIN dfk USING (g)),
    dots AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, sum(a.tf * b.tf) AS dot
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc < b.doc GROUP BY 1, 2
    ),
    cos AS (
      SELECT doc_a, doc_b, dot / (sqrt(na.nrm) * sqrt(nb.nrm)) AS c
      FROM dots JOIN nrm na ON na.doc = doc_a JOIN nrm nb ON nb.doc = doc_b
    )
    SELECT doc_a, doc_b, ROUND(c, 6) AS cosine FROM cos WHERE c >= 0.5
    ORDER BY c DESC, doc_a, doc_b LIMIT 20
    """,
    doc="All-pairs sparse cosine over word-bigram count vectors via an "
    "inverted-index self-join (operators/similarity.py): df-capped grams "
    "(df in [2, N/10] — bounds per-gram fan-out, drops stopword grams), "
    "integer dot products and norms (order-free, engine-exact), one "
    "sqrt/divide per surviving pair. The sparse counterpart to the dense "
    "embedding ANN paths; pairs with cosine >= 0.5, top 20.",
    tags=("llm", "similarity"),
)
def q_token_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sim.sparse_token_cosine_pairs(docs)


@query(
    "segment_dedup",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             md5(array_to_string(list_slice(ws, i * 12 + 1, (i + 1) * 12), ' ')) AS h
      FROM words CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, CAST((len(ws) + 11) // 12 AS INT) - 1)) AS i
      )
    )
    SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) = 1 AS keep
    FROM segs
    """,
    doc="CCNet-style segment-level exact dedup: documents are cut into "
    "consecutive 12-word segments, each segment hashed, and only the "
    "first corpus-wide occurrence (by doc order, then position) is kept "
    "— removing boilerplate repeated ACROSS documents that doc-level "
    "dedup can't see. One shuffle on the segment hash; the explode is "
    "spread by the doc_shingles parallelism-guard pattern.",
    tags=("llm", "dedup"),
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    segs = words.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.size("ws") / F.lit(12)).cast("int") - 1)
        ).alias("seg_idx"),
        F.col("ws"),
    ).select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.md5(
            F.array_join(F.slice("ws", F.col("seg_idx") * 12 + 1, F.lit(12)), " ")
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    return segs.select(
        "doc_id", "seg_idx", (F.row_number().over(w) == 1).alias("keep")
    )


_MINHASH_SQL = """
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    mh AS (
      SELECT doc_id, p,
             CAST(min((h * (((p + 1) * 2654435761) % 2147483647)
                       + (((p + 1) * 40503) % 2147483647)) % 2147483647) AS BIGINT) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p)
      GROUP BY doc_id, p
    ),
    bands AS (
      SELECT doc_id, p % 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY p) AS bsig
      FROM mh GROUP BY doc_id, band
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    )
"""


@query(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH {_MINHASH_SQL}
    SELECT p.a, p.b,
           CAST(sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
    FROM pairs p
    JOIN mh ma ON ma.doc_id = p.a
    JOIN mh mb ON mb.doc_id = p.b AND mb.p = ma.p
    GROUP BY p.a, p.b
    """,
    doc="MinHash Jaccard ESTIMATION on the LSH candidate pairs: n_agree "
    "of 16 signature components agree, so est-J = n_agree/16 — the "
    "cheap filter between LSH candidate generation and exact "
    "verification in a production dedup pipeline. Signatures ride the "
    "wide (doc, mh0..mh15) row, so the estimate is 16 comparisons per "
    "pair with no extra shuffle beyond the candidate join itself.",
    tags=("llm", "dedup"),
)
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = dd.minhash_wide(_docs(spark, sf_dir), num_perm=16)
    wide = wide.localCheckpoint(eager=True)
    pairs = dd.lsh_candidate_pairs(wide)
    wa = wide.select(F.col("doc_id").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(16)])
    wb = wide.select(F.col("doc_id").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(16)])
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    return (
        pairs.join(wa, "a")
        .join(wb, "b")
        .select("a", "b", agree.cast("long").alias("n_agree"))
    )


@query(
    "dedup_substring_spans",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
    ),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
    wins AS (
      SELECT doc_id, i, md5(array_to_string(list_slice(ws, i, i + 9), ' ')) AS h
      FROM words CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(ws) - 9)) AS i
      )
      WHERE len(ws) >= 10
    ),
    duph AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
    dup AS (SELECT doc_id, i FROM wins JOIN duph USING (h)),
    cov AS (
      SELECT doc_id, i, i + 9 AS endpos,
             coalesce(max(i + 9) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      FROM dup
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS dup_windows,
             sum(greatest(0, endpos - greatest(prev_end, i - 1))) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.dup_windows, 0) AS BIGINT) AS dup_windows,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST((coalesce(p.dup_tokens, 0) * 1000) // len(w.ws) AS BIGINT) AS dup_permille
    FROM words w LEFT JOIN per_doc p ON w.doc_id = p.doc_id
    """,
    doc="Exact-substring duplication spans (Lee et al. 2021, the "
    "suffix-array-free scale path): every stride-1 10-token span is "
    "hashed; spans occurring >1x corpus-wide are duplicates; per-doc "
    "duplicated-token coverage is an interval union computed with one "
    "running-max window — no span self-join. operators/dedup.py:"
    "substring_span_stats. All-integer output, bit-exact vs the oracle.",
    tags=("llm", "dedup"),
)
def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.substring_span_stats(_docs_with_dupes(spark, sf_dir), window=10)


@query(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
    scored AS (
      SELECT doc_id, length(bin(CAST(t // c AS BIGINT))) - 1 AS bits
      FROM toks JOIN freq USING (tok) CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
    FROM scored GROUP BY doc_id
    """,
    doc="Corpus-unigram LM quality score (CCNet-style perplexity "
    "filtering), integer-quantized: token surprisal = floor(log2(T/c)) "
    "computed as length(bin(T DIV c)) - 1 — engine-portable integers, "
    "no float log. operators/textstats.py:unigram_surprisal. The "
    "vocabulary relation broadcasts against the exploded tokens at "
    "scale; one explode + two groupBys total.",
    tags=("llm", "text"),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.unigram_surprisal(_docs(spark, sf_dir))


@query(
    "similarity_int8_scan",
    oracle="""
    WITH e AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
    ),
    stats AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM (
        SELECT unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val FROM e
      ) GROUP BY pos
    ),
    mm AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats),
    q AS (
      SELECT vec_id,
             [CASE WHEN mxs[i] > mns[i]
                   THEN least(CAST(floor((v[i] - mns[i]) * 254.0 / (mxs[i] - mns[i])) AS BIGINT), 254)
                   ELSE 0 END
              FOR i IN generate_series(1, len(v))] AS qvec
      FROM e CROSS JOIN mm
    ),
    qq AS (SELECT qvec AS qv FROM q WHERE vec_id = 0)
    SELECT vec_id,
           CAST(list_sum([qvec[i] * qv[i] FOR i IN generate_series(1, len(qvec))]) AS BIGINT) AS qdot
    FROM q CROSS JOIN qq
    WHERE vec_id <> 0
    ORDER BY qdot DESC, vec_id ASC
    LIMIT 20
    """,
    doc="Int8 scalar-quantized similarity scan (operators/similarity.py:"
    "int8_quantize/int8_topk): per-dim min/max from one 64-key groupBy, "
    "codes = floor((v-mn)*254/(mx-mn)) via a JVM-side transform, top-20 "
    "by integer dot product against the broadcast query vector. The 4x-"
    "compression scan path for 100 TB vector stores — quantization "
    "arithmetic is IEEE-double-then-integer, bit-exact vs the oracle.",
    tags=("llm", "similarity"),
)
def q_int8_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.int8_topk(load_table(spark, sf_dir, "embeddings"), k=20)


@query(
    "similarity_pq_adc",
    oracle="""
    WITH e AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
    ),
    stats AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM (
        SELECT unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val FROM e
      ) GROUP BY pos
    ),
    mm AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats),
    q AS (
      SELECT vec_id,
             [CASE WHEN mxs[i] > mns[i]
                   THEN least(CAST(floor((v[i] - mns[i]) * 254.0 / (mxs[i] - mns[i])) AS BIGINT), 254)
                   ELSE 0 END
              FOR i IN generate_series(1, len(v))] AS qvec
      FROM e CROSS JOIN mm
    ),
    cents AS (SELECT vec_id - 1 AS j, qvec AS cvec FROM q WHERE vec_id BETWEEN 1 AND 8),
    sub AS (
      SELECT q.vec_id, mc.m, c.j,
             list_sum([(q.qvec[mc.m * 16 + i] - c.cvec[mc.m * 16 + i])
                       * (q.qvec[mc.m * 16 + i] - c.cvec[mc.m * 16 + i])
                       FOR i IN generate_series(1, 16)]) AS d
      FROM q
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS m) mc
      CROSS JOIN cents c
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    lut AS (SELECT m, j, d FROM sub WHERE vec_id = 0)
    SELECT c.vec_id, CAST(sum(l.d) AS BIGINT) AS adist
    FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.j
    WHERE c.vec_id <> 0
    GROUP BY c.vec_id
    ORDER BY adist ASC, vec_id ASC
    LIMIT 20
    """,
    doc="Product-quantization ADC scan (operators/similarity.py:"
    "pq_adc_topk): 64-dim int8 codes split into 4 subspaces, each "
    "encoded as its nearest of 8 deterministic codebook centroids "
    "(ties -> smallest id); the query builds a 4x8 exact-distance "
    "lookup table and scores every vector with 4 table lookups — the "
    "compression ladder past int8 for 100 TB vector stores. Spark "
    "encodes with JVM higher-order expressions and two 1-row "
    "broadcasts; the oracle re-derives codes with a naive "
    "(vec, subspace, centroid) row expansion + row_number argmin — "
    "agreement proves the expression-based encode correct.",
    tags=("llm", "similarity"),
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.pq_adc_topk(load_table(spark, sf_dir, "embeddings"), dim=64, k=20)


@query(
    "similarity_ann_multiprobe",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sigs AS (
      SELECT e.vec_id, e.embedding, {_SIG_SQL.format(vec='e.embedding')} AS sig
      FROM embeddings e
    ),
    qsig AS (SELECT {_SIG_SQL.format(vec='q.qv')} AS sig FROM q)
    SELECT e.vec_id, ROUND({_COSINE_SQL}, 4) AS cosine
    FROM sigs e CROSS JOIN q CROSS JOIN qsig
    WHERE bit_count(xor(e.sig, qsig.sig)) <= 1
    ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """,
    doc="Multi-probe LSH ANN (operators/similarity.py:"
    "multiprobe_lsh_ann_topk): probe the query bucket plus every "
    "1-bit-flip neighbour (9/256 buckets) via a single "
    "bit_count(sig XOR qsig) <= 1 scan predicate, then exact cosine "
    "re-rank — the recall lever over single-bucket LSH "
    "(similarity_ann_lsh) with no extra hash tables and no bucket "
    "explosion join.",
    tags=("llm", "similarity"),
)
def q_similarity_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.multiprobe_lsh_ann_topk(emb, _query_vec(spark, sf_dir), dim=64, k=10)


_INT8_Q_SQL = """
    e AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
    ),
    stats AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM (
        SELECT unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val FROM e
      ) GROUP BY pos
    ),
    mm AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats),
    q AS (
      SELECT vec_id,
             [CASE WHEN mxs[i] > mns[i]
                   THEN least(CAST(floor((v[i] - mns[i]) * 254.0 / (mxs[i] - mns[i])) AS BIGINT), 254)
                   ELSE 0 END
              FOR i IN generate_series(1, len(v))] AS qvec
      FROM e CROSS JOIN mm
    )
"""


def _sqd64(a: str, b: str) -> str:
    return (
        f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        "FOR i IN generate_series(1, 64)])"
    )


def _kcenter_oracle() -> str:
    parts = [f"WITH {_INT8_Q_SQL},"]
    parts.append(
        f"d1 AS (SELECT p.vec_id, {_sqd64('p.qvec', 's.qvec')} AS dmin"
        " FROM q p JOIN q s ON s.vec_id = 0),"
    )
    prev_ids = "SELECT CAST(0 AS BIGINT) AS vec_id"
    finals = ["SELECT 0 AS sel_order, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS dmin"]
    for r in range(1, KCENTER_K):
        parts.append(
            f"p{r} AS (SELECT vec_id, dmin FROM d{r}"
            f" WHERE vec_id NOT IN ({prev_ids})"
            " ORDER BY dmin DESC, vec_id LIMIT 1),"
        )
        prev_ids += f" UNION SELECT vec_id FROM p{r}"
        finals.append(
            f"SELECT {r} AS sel_order, CAST(vec_id AS BIGINT) AS vec_id,"
            f" CAST(dmin AS BIGINT) AS dmin FROM p{r}"
        )
        if r < KCENTER_K - 1:
            parts.append(
                f"d{r + 1} AS (SELECT d{r}.vec_id,"
                f" least(d{r}.dmin, {_sqd64('p.qvec', 'sv.qvec')}) AS dmin"
                f" FROM d{r} JOIN q p ON p.vec_id = d{r}.vec_id"
                f" JOIN q sv ON sv.vec_id = (SELECT vec_id FROM p{r})),"
            )
    body = "\n    ".join(parts).rstrip(",")
    return body + "\n    " + "\n    UNION ALL ".join(finals)


@query(
    "sampling_kcenter_diverse",
    oracle=_kcenter_oracle(),
    doc="Greedy k-center diverse subset selection (operators/"
    "clustering.py:kcenter_diverse): 5 farthest-point picks over the "
    "int8-quantized embeddings, ties to the smallest id — the coverage-"
    "maximizing sampler next to SemDeDup near-dup pruning in a "
    "training-data pipeline. Per round one scan updates the running "
    "min-distance with least(dmin, sqdist(p, new)) + a TakeOrdered(1); "
    "driver state is just the k selected code vectors. Exact BIGINT "
    "distances make the greedy trajectory bit-reproducible — the "
    "oracle unrolls the same 4 rounds as chained CTEs.",
    tags=("llm", "sampling"),
)
def q_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.clustering import kcenter_diverse

    return kcenter_diverse(load_table(spark, sf_dir, "embeddings"), k=KCENTER_K, seed_id=0)


@query(
    "text_bigram_logprob",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS tok
      FROM words CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    pairs AS (
      SELECT * FROM (
        SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        FROM toks
      ) WHERE prev IS NOT NULL
    ),
    uni AS (SELECT prev, count(*) AS c1 FROM pairs GROUP BY prev),
    bi AS (SELECT prev, tok, count(*) AS c2 FROM pairs GROUP BY prev, tok),
    scored AS (
      SELECT doc_id, length(bin(CAST(c1 // c2 AS BIGINT))) - 1 AS bits
      FROM pairs JOIN bi USING (prev, tok) JOIN uni USING (prev)
    )
    SELECT doc_id, count(*) AS n_bigrams, CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
    FROM scored GROUP BY doc_id
    """,
    doc="Corpus-bigram conditional LM score (operators/textstats.py:"
    "bigram_surprisal): quantized -log2 P(tok|prev) = floor(log2(c(prev)"
    "/c(prev,tok))) bits via bin()-length integer arithmetic — the "
    "continuation-probability signal that catches shuffled/garbled text "
    "unigram surprisal misses. One lag window per doc + two vocabulary-"
    "bounded dictionary groupBys/joins.",
    tags=("llm", "text"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.bigram_surprisal(_docs(spark, sf_dir))


@query(
    "similarity_ivf_pq",
    oracle=f"""
    WITH {_INT8_Q_SQL},
    cents AS (SELECT vec_id AS cid, qvec AS cvec FROM q WHERE vec_id < 16),
    cd AS (
      SELECT q.vec_id, c.cid, {_sqd64('q.qvec', 'c.cvec')} AS d
      FROM q CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    probes AS (SELECT cid FROM cd WHERE vec_id = 0 ORDER BY d, cid LIMIT 4),
    cb AS (SELECT vec_id - 1 AS j, qvec AS cvec FROM q WHERE vec_id BETWEEN 1 AND 8),
    cand AS (
      SELECT q.vec_id, q.qvec FROM q
      JOIN assign USING (vec_id) JOIN probes USING (cid)
      WHERE q.vec_id <> 0
      UNION ALL
      SELECT vec_id, qvec FROM q WHERE vec_id = 0
    ),
    sub AS (
      SELECT v.vec_id, mc.m, c.j,
             list_sum([(v.qvec[mc.m * 16 + i] - c.cvec[mc.m * 16 + i])
                       * (v.qvec[mc.m * 16 + i] - c.cvec[mc.m * 16 + i])
                       FOR i IN generate_series(1, 16)]) AS d
      FROM cand v
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS m) mc
      CROSS JOIN cb c
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    lut AS (SELECT m, j, d FROM sub WHERE vec_id = 0)
    SELECT c.vec_id, CAST(sum(l.d) AS BIGINT) AS adist
    FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.j
    WHERE c.vec_id <> 0
    GROUP BY c.vec_id
    ORDER BY adist ASC, vec_id ASC
    LIMIT 10
    """,
    doc="IVF-PQ composite ANN (operators/similarity.py:ivf_pq_topk): "
    "integer coarse quantizer prunes to the query's 4 of 16 cells via "
    "an array_contains scan predicate (no join), then PQ ADC scores "
    "survivors with 4 LUT lookups each — the production vector-store "
    "layout (prune + compress) as ONE single-pass Spark plan with four "
    "1-row broadcasts. Exact BIGINT arithmetic end-to-end; the oracle "
    "re-derives both stages with naive row expansions + row_number "
    "argmins.",
    tags=("llm", "similarity"),
)
def q_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_pq_topk(load_table(spark, sf_dir, "embeddings"), dim=64)


@query(
    "text_vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
      FROM documents WHERE doc_id < 200
    ),
    firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
    per_doc AS (
      SELECT first_doc AS doc_id, count(*) AS n_new_types FROM firsts GROUP BY first_doc
    ),
    base AS (SELECT DISTINCT doc_id FROM toks)
    SELECT b.doc_id,
           CAST(coalesce(p.n_new_types, 0) AS BIGINT) AS n_new_types,
           CAST(sum(coalesce(p.n_new_types, 0))
                OVER (ORDER BY b.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Vocabulary-growth (Heaps-law) curve: per document in corpus "
    "order, how many token TYPES appear for the first time, plus the "
    "running vocabulary size — the dataset-curation signal for corpus "
    "saturation (new data stops adding vocabulary). First occurrences "
    "via one min-aggregate on the distinct (doc, token) relation — no "
    "quadratic 'seen before' join; the cumulative sum is one global "
    "window over the ~|docs| rows, not the token stream.",
    tags=("llm", "text"),
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias("tok"),
    )
    toks = toks.repartition(
        toks.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    per_doc = firsts.groupBy("doc_id").agg(F.count("*").alias("n_new_types"))
    base = toks.select("doc_id").distinct()
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_new_types", F.lit(0)).cast("long").alias("n_new_types"),
        )
        .withColumn("cum_vocab", F.sum("n_new_types").over(w).cast("long"))
    )


@query(
    "quality_decile_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
    scored AS (
      SELECT doc_id, length(bin(CAST(t // c AS BIGINT))) - 1 AS bits
      FROM toks JOIN freq USING (tok) CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
      FROM scored GROUP BY doc_id
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, p.mean_millibits,
             ntile(10) OVER (PARTITION BY d.lang
                             ORDER BY p.mean_millibits, d.doc_id) AS decile
      FROM documents d JOIN per_doc p USING (doc_id)
    )
    SELECT doc_id, lang, mean_millibits, CAST(decile AS BIGINT) AS decile,
           CAST(CASE WHEN decile = 10 THEN 0 ELSE decile * 100 END AS BIGINT)
             AS weight_millis
    FROM ranked
    """,
    doc="Quality-weighted sampling spec (DoReMi-lite): per-language "
    "deciles of the corpus-unigram surprisal score (ntile over a total "
    "(score, doc_id) order — engine-deterministic), mapped to integer "
    "sampling weights that upweight higher-surprisal text and zero out "
    "the top decile (gibberish tail). The composition query: the LM "
    "score feeds ranking feeds curation weights, one pipeline, all "
    "integers.",
    tags=("llm", "sampling"),
)
def q_quality_decile_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    scored = ts.unigram_surprisal(d).select("doc_id", "mean_millibits")
    w = Window.partitionBy("lang").orderBy("mean_millibits", "doc_id")
    ranked = (
        d.select("doc_id", "lang")
        .join(scored, "doc_id")
        .withColumn("decile", F.ntile(10).over(w).cast("long"))
    )
    return ranked.select(
        "doc_id",
        "lang",
        "mean_millibits",
        "decile",
        F.when(F.col("decile") == 10, 0)
        .otherwise(F.col("decile") * 100)
        .cast("long")
        .alias("weight_millis"),
    )


@query(
    "dedup_canonical_longest",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    p AS (
      SELECT a, b FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
    ),
    und AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
    r AS (
      SELECT doc_id AS v, doc_id AS lbl, 0 AS hops FROM documents
      UNION
      SELECT r.v, und.dst, r.hops + 1 FROM r JOIN und ON r.lbl = und.src WHERE r.hops < 6
    ),
    clus AS (SELECT v AS doc_id, min(lbl) AS cluster FROM r GROUP BY v),
    sized AS (SELECT c.doc_id, c.cluster, d.n_chars FROM clus c JOIN documents d USING (doc_id)),
    win AS (
      SELECT cluster, doc_id AS canon FROM (
        SELECT cluster, doc_id,
               row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM sized
      ) WHERE rn = 1
    )
    SELECT s.doc_id, s.cluster, CAST(s.n_chars AS BIGINT) AS n_chars,
           s.doc_id = w.canon AS keep
    FROM sized s JOIN win w USING (cluster)
    """,
    doc="Canonical-document selection: the full near-dup pipeline finale "
    "— Jaccard pairs -> min-label clusters (dedup_clusters) -> keep the "
    "LONGEST member per cluster (ties to the smaller id) via a "
    "mergeable max_by((n_chars, -doc_id)) aggregate instead of a "
    "per-cluster sort. Length-preferring retention is the curation "
    "standard (near-dups are usually truncations of the fullest copy); "
    "the oracle re-derives the winner with a naive row_number.",
    tags=("llm", "dedup"),
)
def q_dedup_canonical_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = dd.ngram_jaccard_pairs(docs)
    clusters = dd.cluster_min_label(pairs, docs, max_iter=6).select("doc_id", "cluster")
    sized = clusters.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id"
    )
    winners = sized.groupBy("cluster").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("canon")
    )
    return sized.join(winners, "cluster").select(
        "doc_id",
        "cluster",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("doc_id") == F.col("canon")).alias("keep"),
    )


@query(
    "source_dup_rates",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             md5(array_to_string(list_slice(ws, i * 12 + 1, (i + 1) * 12), ' ')) AS h
      FROM words CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, CAST((len(ws) + 11) // 12 AS INT) - 1)) AS i
      )
    ),
    flagged AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) = 1 AS keep
      FROM segs
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN f.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
           CAST((sum(CASE WHEN f.keep THEN 0 ELSE 1 END) * 1000) // count(*) AS BIGINT)
             AS dup_permille
    FROM flagged f JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    doc="Per-source boilerplate rates: the segment-level dedup flags "
    "(segment_dedup — corpus-wide first occurrence keeps) aggregated by "
    "document source, yielding each source's duplicated-segment "
    "permille — the curation dashboard that tells you WHICH feed ships "
    "boilerplate before you burn tokens on it. One extra broadcast join "
    "+ 4-group aggregate over the segment relation.",
    tags=("llm", "dedup"),
)
def q_source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    dd_ = d.repartition(d.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    words = dd_.select("doc_id", F.split("text", " ").alias("ws"))
    segs = words.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.size("ws") / F.lit(12)).cast("int") - 1)
        ).alias("seg_idx"),
        F.col("ws"),
    ).select(
        "doc_id",
        "seg_idx",
        F.md5(
            F.array_join(F.slice("ws", F.col("seg_idx") * 12 + 1, F.lit(12)), " ")
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    flagged = segs.select("doc_id", (F.row_number().over(w) == 1).alias("keep"))
    return (
        flagged.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint").alias("n_dup"),
            F.expr(
                "CAST((sum(CASE WHEN keep THEN 0 ELSE 1 END) * 1000)"
                " DIV count(*) AS BIGINT)"
            ).alias("dup_permille"),
        )
    )


@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH {_INT8_Q_SQL},
    lab AS (SELECT vec_id, label FROM embeddings),
    cells AS (
      SELECT l.label, u.pos, u.c
      FROM q JOIN lab l USING (vec_id)
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(q.qvec))) AS pos, unnest(q.qvec) AS c
      ) u
    ),
    sums AS (
      SELECT label, pos, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY label, pos
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(s) AS BIGINT) AS total_mass,
           CAST(sum(CASE WHEN pos <= 8 THEN s ELSE 0 END) AS BIGINT) AS head_mass
    FROM sums GROUP BY label
    """,
    doc="Dense-vector aggregation: per-label centroid mass over the int8 "
    "codes — posexplode to (label, dim) cells, one map-side-combinable "
    "sum, integer masses (total + first-8-dims head) per label. The "
    "reduce step of every embedding-analytics job (class centroids, "
    "drift monitoring) expressed so the 64-group aggregate carries ALL "
    "the data movement; no vector ever collects to the driver.",
    tags=("llm", "similarity"),
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.int8_quantize(emb)
    cells = q.join(emb.select("vec_id", "label"), "vec_id").select(
        "label", F.posexplode("qvec").alias("pos0", "c")
    )
    sums = cells.groupBy("label", F.col("pos0")).agg(F.sum("c").alias("s"))
    return sums.groupBy("label").agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum("s").cast("long").alias("total_mass"),
        F.sum(F.when(F.col("pos0") <= 7, F.col("s")).otherwise(0)).cast("long").alias("head_mass"),
    )


_MINHASH_COLLAPSED_CTES = f"""
WITH RECURSIVE base AS ({_DUPES_SQL}),
    grp AS (
      SELECT b.doc_id, g.rep
      FROM base b
      JOIN (SELECT md5(text) AS k, min(doc_id) AS rep FROM base GROUP BY 1) g
        ON md5(b.text) = g.k
    ),
    reps AS (
      SELECT b.doc_id, b.text FROM base b
      JOIN grp ON b.doc_id = grp.doc_id AND grp.rep = b.doc_id
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM reps
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    mh AS (
      SELECT doc_id, p,
             CAST(min((h * (((p + 1) * 2654435761) % 2147483647)
                       + (((p + 1) * 40503) % 2147483647)) % 2147483647) AS BIGINT) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS p)
      GROUP BY doc_id, p
    ),
    bands AS (
      SELECT doc_id, p % 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY p) AS bsig
      FROM mh GROUP BY doc_id, band
    ),
    p2 AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    und AS (SELECT a AS src, b AS dst FROM p2 UNION SELECT b, a FROM p2),
    r AS (
      SELECT doc_id AS v, doc_id AS lbl, 0 AS hops FROM reps
      UNION
      SELECT r.v, und.dst, r.hops + 1 FROM r JOIN und ON r.lbl = und.src WHERE r.hops < 6
    ),
    cl AS (SELECT v, min(lbl) AS cluster FROM r GROUP BY v)
"""


@query(
    "dedup_minhash_collapsed",
    oracle=f"""
    {_MINHASH_COLLAPSED_CTES}
    SELECT grp.doc_id, cl.cluster, (grp.doc_id = cl.cluster) AS keep
    FROM grp JOIN cl ON grp.rep = cl.v
    """,
    doc="The 100 TB-sane MinHash dedup contract (sf1-rehearsal fix): "
    "exact-collapse on md5(text) BEFORE the pair generator, MinHash+LSH "
    "among unique texts only (32 perms / 4 bands: 8-row bands put the "
    "s-curve threshold at ~0.84 Jaccard, which keeps candidate volume "
    "~40x smaller than 4-row bands on this deliberately homogeneous "
    "corpus), bounded min-label clustering, linear "
    "expansion through the rep key. Output is O(N) (doc_id, cluster, "
    "keep), never the O(pairs) candidate list that grows quadratically "
    "in the exact-copy count (10x replication made the raw pair contract "
    "~57x slower; this path stays linear).",
    tags=("llm", "dedup", "scale"),
)
def q_dedup_minhash_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_cluster_collapsed(_docs_with_dupes(spark, sf_dir))


def _bpe_round_sql(k: int) -> str:
    """One unrolled BPE training round (pair counts -> argmax merge ->
    fold-applied vocabulary) as DuckDB CTEs p{k}/m{k}/w{k} over w{k-1}."""
    return f"""
    p{k} AS (
      SELECT u.l AS l, u.r AS r, CAST(sum(wt) AS BIGINT) AS c FROM (
        SELECT wt, unnest(list_transform(generate_series(1, len(string_split(sym,' '))-1),
               i -> {{'l': string_split(sym,' ')[i], 'r': string_split(sym,' ')[i+1]}})) AS u
        FROM w{k - 1}
      ) GROUP BY u.l, u.r
    ),
    m{k} AS (SELECT {k} AS rank, l, r, l || r AS m, c FROM p{k}
             ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    w{k} AS (
      SELECT word, wt,
        list_reduce(string_split(sym,' '), (acc, x) -> CASE
          WHEN (acc = m.l OR acc LIKE '% ' || m.l) AND x = m.r
          THEN substr(acc, 1, length(acc) - length(m.l)) || m.m
          ELSE acc || ' ' || x END) AS sym
      FROM w{k - 1} CROSS JOIN m{k} m
    )"""


_BPE_W0_SQL = """
    w0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS wt,
             list_reduce(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)),
                         (a, b) -> a || ' ' || b) AS sym
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
      GROUP BY word
    )"""


@query(
    "bpe_merge_table",
    oracle="WITH "
    + ",".join([_BPE_W0_SQL] + [_bpe_round_sql(k) for k in (1, 2, 3, 4)])
    + """
    SELECT rank, l AS lhs, r AS rhs, m AS merged, c AS weight
    FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
          UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4)
    """,
    doc="Distributed BPE-merge training (operators/bpe.py): the first 4 "
    "merges learned over the corpus. The heavy stage is VOCAB-bounded — "
    "pair counting and merge application run on the distinct-word "
    "frequency table, never the corpus, so 100 TB of text costs one "
    "word-count shuffle plus n_merges vocabulary folds; the per-round "
    "argmax collects exactly ONE row (the merge table is the model "
    "artifact, like k-means centroids). Greedy left-to-right merge "
    "application is the same fold in Spark aggregate() and DuckDB "
    "list_reduce(), so the whole iterative trainer hash-matches.",
    tags=("llm", "text", "iterative"),
)
def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.bpe import bpe_learn_merges

    return bpe_learn_merges(_docs(spark, sf_dir), n_merges=4)


@query(
    "bpe_segmentation",
    oracle="WITH "
    + ",".join([_BPE_W0_SQL] + [_bpe_round_sql(k) for k in (1, 2)])
    + """
    , dw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents WHERE doc_id < 100
    ),
    s0 AS (
      SELECT doc_id,
             list_reduce(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)),
                         (a, b) -> a || ' ' || b) AS sym
      FROM dw
    ),
    s1 AS (
      SELECT doc_id,
        list_reduce(string_split(sym,' '), (acc, x) -> CASE
          WHEN (acc = m.l OR acc LIKE '% ' || m.l) AND x = m.r
          THEN substr(acc, 1, length(acc) - length(m.l)) || m.m
          ELSE acc || ' ' || x END) AS sym
      FROM s0 CROSS JOIN m1 m
    ),
    s2 AS (
      SELECT doc_id,
        list_reduce(string_split(sym,' '), (acc, x) -> CASE
          WHEN (acc = m.l OR acc LIKE '% ' || m.l) AND x = m.r
          THEN substr(acc, 1, length(acc) - length(m.l)) || m.m
          ELSE acc || ' ' || x END) AS sym
      FROM s1 CROSS JOIN m2 m
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(sym,' '))) AS BIGINT) AS n_symbols
    FROM s2 GROUP BY doc_id
    """,
    doc="BPE segmentation (operators/bpe.py bpe_segment): apply the first "
    "2 learned merges to a document slice and measure compression — "
    "per-doc word and symbol counts. Merge application is the same "
    "greedy left-to-right fold as training, run per corpus word; at "
    "scale this is one linear pass (broadcast merge table, no shuffle "
    "until the per-doc count).",
    tags=("llm", "text"),
)
def q_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.bpe import bpe_learn_merges, bpe_segment

    docs = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_learn_merges(docs, n_merges=2).orderBy("rank").collect()
    ]
    return bpe_segment(docs.filter(F.col("doc_id") < 100), merges)


@query(
    "unigram_viterbi_segmentation",
    oracle="""
    WITH RECURSIVE
    words AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents),
    pc AS (
      SELECT w, u.s AS s, u.e AS e, substr(w, u.s + 1, u.e - u.s) AS piece
      FROM words, unnest(flatten(list_transform(range(length(w)),
           s -> list_transform(range(s + 2, least(s + 4, length(w)) + 1),
                e -> {'s': s, 'e': e})))) AS t(u)
    ),
    vocab AS (SELECT piece FROM pc GROUP BY piece HAVING count(*) >= 20),
    edges AS (SELECT pc.w, pc.e, pc.s FROM pc JOIN vocab USING (piece)),
    el AS (SELECT w, list({'e': e, 's': s}) AS es FROM edges GROUP BY w),
    wl AS (SELECT words.w, el.es FROM words LEFT JOIN el USING (w)),
    r AS (
      SELECT w, es, 0 AS i, [0] AS d FROM wl
      UNION ALL
      SELECT w, es, i + 1,
             list_append(d, least(
                 d[i + 1] + 1,
                 list_min(list_transform(list_filter(es, x -> x.e = i + 1),
                                         x -> d[x.s + 1] + 1))))
      FROM r WHERE i < length(w)
    ),
    seg AS (SELECT w, d[length(w) + 1] AS np FROM r WHERE i = length(w)),
    dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
           FROM documents)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(w)) AS BIGINT) AS n_chars,
           CAST(sum(np) AS BIGINT) AS n_pieces
    FROM dw JOIN seg USING (w) GROUP BY doc_id
    """,
    doc="Second tokenizer family after BPE: unigram-LM-style Viterbi "
    "segmentation (the SentencePiece decoding shape, Kudo 2018) with unit "
    "piece costs — each word split into the MINIMUM number of vocab "
    "pieces, vocab mined from the data (substrings of length 2-4 with "
    ">=20 positional occurrences across distinct words), single chars "
    "always valid (char fallback). The per-word DP is a pure-Column "
    "aggregate() fold (operators/bpe.py subword_viterbi_segment), no "
    "Python: dp[i] = least(dp[i-1]+1, min over vocab edges s->i of "
    "dp[s]+1). Everything heavy is vocab-bounded (spans + DP run on "
    "DISTINCT words); the corpus costs one word explode + broadcast join. "
    "Unit costs keep the optimum integer-exact, so the DuckDB recursive-"
    "CTE oracle replicates the entire DP and hash-matches n_pieces.",
    tags=("llm", "text", "iterative"),
)
def q_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.bpe import subword_viterbi_segment

    return subword_viterbi_segment(_docs(spark, sf_dir), min_count=20)


@query(
    "hybrid_search_rrf",
    oracle=rf"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    dense0 AS (
      SELECT vec_id AS id, {_cos64('e.v', 'q.qv')} AS dcos
      FROM e CROSS JOIN q WHERE vec_id <> 0
      ORDER BY dcos DESC, id ASC LIMIT 20
    ),
    dense AS (SELECT id, row_number() OVER (ORDER BY dcos DESC, id ASC) AS dr FROM dense0),
    t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
    g AS (SELECT doc_id AS doc, unnest([toks[i] || ' ' || toks[i+1]
                 FOR i IN generate_series(1, greatest(len(toks) - 1, 0))]) AS g FROM t),
    tf AS (SELECT doc, g, CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY doc, g),
    nrm AS (SELECT doc, sum(tf * tf) AS nrm FROM tf GROUP BY doc),
    qtf AS (SELECT g, tf AS qtf FROM tf WHERE doc = 0),
    qn AS (SELECT nrm AS qnrm FROM nrm WHERE doc = 0),
    dots AS (SELECT tf.doc AS doc, sum(tf.tf * qtf.qtf) AS dot
             FROM tf JOIN qtf USING (g) WHERE tf.doc <> 0 GROUP BY tf.doc),
    sparse0 AS (
      SELECT dots.doc AS id, dot / (sqrt(nrm.nrm) * sqrt(qn.qnrm)) AS scos
      FROM dots JOIN nrm ON nrm.doc = dots.doc CROSS JOIN qn
      ORDER BY scos DESC, id ASC LIMIT 20
    ),
    sparse AS (SELECT id, row_number() OVER (ORDER BY scos DESC, id ASC) AS sr FROM sparse0)
    SELECT COALESCE(dense.id, sparse.id) AS id,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + dr), 0)
               + COALESCE(CAST(1.0 AS DOUBLE) / (60 + sr), 0), 6) AS rrf_score,
           CAST(COALESCE(dr, 0) AS BIGINT) AS dense_rank,
           CAST(COALESCE(sr, 0) AS BIGINT) AS sparse_rank
    FROM dense FULL OUTER JOIN sparse ON dense.id = sparse.id
    ORDER BY rrf_score DESC, id ASC LIMIT 10
    """,
    doc="Hybrid retrieval by Reciprocal Rank Fusion "
    "(operators/similarity.py hybrid_rrf_topk): the dense lane ranks by "
    "embedding cosine to vec 0, the sparse lane by word-bigram cosine of "
    "doc 0's QUERY-vs-corpus broadcast against the inverted index "
    "(linear in touched posting lists, never all-pairs), each lane keeps "
    "its top-20, and candidates fuse with 1/(60+rank) per lane — the "
    "production lexical+vector merge. Integer sparse dots; one "
    "sqrt/divide per candidate; rank windows sort 20 rows, not the "
    "corpus.",
    tags=("llm", "similarity", "text"),
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.hybrid_rrf_topk(docs, emb, _query_vec(spark, sf_dir))
    return out.select(
        "id", "rrf_score",
        F.col("dense_rank").cast("long").alias("dense_rank"),
        F.col("sparse_rank").cast("long").alias("sparse_rank"),
    )


@query(
    "dataset_split_leakage_safe",
    oracle=f"""
    {_MINHASH_COLLAPSED_CTES},
    assigned AS (
      SELECT grp.doc_id, cl.cluster,
             ('0x' || substring(md5('clsplit:' || CAST(cl.cluster AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
      FROM grp JOIN cl ON grp.rep = cl.v
    ),
    labeled AS (
      SELECT doc_id, cluster,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM assigned
    ),
    leaky AS (
      SELECT CAST(count(*) AS BIGINT) AS leaky_clusters FROM (
        SELECT cluster FROM labeled GROUP BY cluster HAVING count(DISTINCT split) > 1)
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
           leaky.leaky_clusters
    FROM labeled CROSS JOIN leaky
    GROUP BY split, leaky.leaky_clusters
    """,
    doc="Leakage-safe train/val/test split: hash-bucket on the NEAR-DUP "
    "CLUSTER id (minhash_cluster_collapsed), not the doc id, so exact "
    "and near duplicates always land in the same split — the standard "
    "guard against train/test contamination that per-doc hashing cannot "
    "give. Self-certifying output: leaky_clusters (clusters spanning >1 "
    "split) is computed in-plan and must be 0. Split membership stays a "
    "pure salted-hash function, stable across engines and re-syncs.",
    tags=("llm", "sampling", "dedup", "scale"),
)
def q_dataset_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import hash_bucket

    clusters = dd.minhash_cluster_collapsed(
        _docs_with_dupes(spark, sf_dir)
    ).select("doc_id", "cluster")
    b = hash_bucket(F.col("cluster"), 100, "clsplit")
    labeled = clusters.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    )
    leaky = (
        labeled.groupBy("cluster")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("leaky_clusters"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaky))
    )


_NB_CTES = r"""
    toks AS (
      SELECT doc_id, lang AS actual,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    tb AS (SELECT doc_id, actual,
                  ('0x' || substring(md5('nb:' || tok), 1, 8))::BIGINT % 64 AS b
           FROM toks),
    counts AS (SELECT actual AS label, b, count(*) AS c FROM tb GROUP BY actual, b),
    likelihood AS (SELECT label, b, CAST(round(ln(c + 1) * 1000) AS BIGINT) AS lc
                   FROM counts),
    class_tok AS (SELECT label, sum(c) AS ct FROM counts GROUP BY label),
    prior AS (SELECT lang AS label, count(*) AS dc FROM documents GROUP BY lang),
    nd AS (SELECT count(*) AS nd FROM documents),
    classes AS (
      SELECT t.label,
             CAST(round(ln(ct + 64) * 1000) AS BIGINT) AS norm,
             CAST(round(ln(dc * 1.0 / nd) * 1000) AS BIGINT) AS pr
      FROM class_tok t JOIN prior p ON t.label = p.label CROSS JOIN nd
    ),
    s1 AS (SELECT tb.doc_id, l.label, sum(l.lc) AS s1
           FROM tb JOIN likelihood l USING (b) GROUP BY tb.doc_id, l.label),
    per_doc AS (SELECT doc_id, actual, count(*) AS n_tokens
                FROM tb GROUP BY doc_id, actual),
    scored AS (
      SELECT d.doc_id, d.actual, c.label,
             c.pr - d.n_tokens * c.norm + coalesce(s1.s1, 0) AS score
      FROM per_doc d CROSS JOIN classes c
      LEFT JOIN s1 ON s1.doc_id = d.doc_id AND s1.label = c.label
    ),
    best AS (
      SELECT doc_id, actual, label, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
      FROM scored
    ),
    nb AS (
      SELECT doc_id, actual, label AS pred, CAST(score AS BIGINT) AS score_millinats,
             (label = actual) AS correct
      FROM best WHERE rn = 1
    )
"""


@query(
    "text_nb_classifier",
    oracle=f"""
    WITH {_NB_CTES}
    SELECT doc_id, actual, pred, score_millinats, correct FROM nb
    """,
    doc="In-engine multinomial Naive Bayes (operators/textstats.py:"
    "nb_language_classifier): train per-(label, hashed-bucket) token "
    "counts with add-1 smoothing and a document-frequency prior, score "
    "log P(label) + sum log P(bucket|label) decomposed so the likelihood "
    "table holds observed pairs only (<= 64 x n_labels rows, broadcast), "
    "argmax by mergeable min_by. Millinat-quantized logs keep every "
    "per-doc sum reduction-order-exact, so the whole train+score "
    "pipeline is hash-identical to the oracle — the fastText-style "
    "shallow-classifier stage of a data pipeline, UDF-free.",
    tags=("llm", "text"),
)
def q_text_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.nb_language_classifier(_docs(spark, sf_dir))


@query(
    "classifier_ranking_auc",
    oracle=f"""
    WITH {_NB_CTES},
    by_score AS (
      SELECT score_millinats AS s,
             sum(CASE WHEN correct THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN correct THEN 0 ELSE 1 END) AS n0
      FROM nb GROUP BY score_millinats
    ),
    cum AS (
      SELECT s, n1, n0,
             coalesce(sum(n0) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
      FROM by_score
    )
    SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
           CAST(sum(n0) AS BIGINT) AS n_neg,
           CAST(sum(n1 * (2 * cum0 + n0)) AS BIGINT) AS u2,
           CAST(sum(n1 * (2 * cum0 + n0)) AS BIGINT)
             / (2.0 * CAST(sum(n1) AS BIGINT) * CAST(sum(n0) AS BIGINT)) AS auc,
           CAST(sum(n1 * (2 * cum0 + n0)) AS BIGINT)
             / (2.0 * CAST(sum(n1) AS BIGINT) * CAST(sum(n0) AS BIGINT)) * 2.0 - 1.0 AS gini
    FROM cum
    """,
    doc="Exact ROC-AUC of the NB classifier's confidence as a predictor "
    "of its own correctness (operators/textstats.py:ranking_auc) — the "
    "Mann-Whitney U rank statistic with tie midranks, kept integer-exact "
    "as u2 = 2U so the hash compare is bit-stable; auc and gini are one "
    "identical IEEE division on both engines. Scale shape: collapse to "
    "one row per DISTINCT integer score first (map-side combinable), "
    "rank-cumsum over that bounded frame only — never a global sort of "
    "the raw predictions. Completes the classifier-eval family with "
    "calibration bins (reliability) + AUC (discrimination).",
    tags=("llm", "text", "eval"),
)
def q_classifier_ranking_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    nb = ts.nb_language_classifier(_docs(spark, sf_dir))
    return ts.ranking_auc(nb)


@query(
    "classifier_pr_auc",
    oracle=f"""
    WITH {_NB_CTES},
    by_score AS (
      SELECT score_millinats AS s,
             sum(CASE WHEN correct THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN correct THEN 0 ELSE 1 END) AS n0
      FROM nb GROUP BY score_millinats
    ),
    cum AS (
      SELECT n1,
             sum(n1) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
             sum(n1 + n0) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tot
      FROM by_score
    )
    SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
           CAST(max(cum_tot) - sum(n1) AS BIGINT) AS n_neg,
           CAST(sum(CAST(round(1000000.0 * n1 * cum1 / cum_tot) AS BIGINT)) AS BIGINT)
             AS ap_micros_sum,
           sum(CAST(round(1000000.0 * n1 * cum1 / cum_tot) AS BIGINT)) / 1000000.0
             / CAST(sum(n1) AS DOUBLE) AS average_precision
    FROM cum
    """,
    doc="Exact PR-AUC (average precision) of the NB classifier's "
    "confidence as a predictor of its own correctness "
    "(operators/textstats.py:average_precision) — the discrimination "
    "metric retrieval and rare-event filters report because, unlike "
    "ROC-AUC, it is not inflated by a large negative class. Step-wise AP "
    "over distinct score thresholds descending (sklearn "
    "average_precision_score definition); each threshold's term is "
    "quantized independently to micros so the sum is exact BIGINT "
    "arithmetic (reduction-order-immune) and AP is one identical final "
    "division. Same scale shape as classifier_ranking_auc: collapse to "
    "distinct integer scores, cumsum the bounded frame, no global sort. "
    "Completes the classifier-eval family: calibration (reliability), "
    "ROC-AUC (ranking), PR-AUC (rare-class discrimination).",
    tags=("llm", "text", "eval"),
)
def q_classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    nb = ts.nb_language_classifier(_docs(spark, sf_dir))
    return ts.average_precision(nb, score_col="score_millinats", label_col="correct")


@query(
    "multimodal_phash_near_dup",
    oracle=f"""
    WITH bts AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents),
    h AS (
      SELECT doc_id,
             CAST(list_aggregate(list_transform(range(16), i ->
                 CASE WHEN 16 * bs[i + 1] > list_aggregate(bs, 'sum')
                      THEN (1::BIGINT << i) ELSE 0 END), 'sum') AS BIGINT) AS ahash
      FROM bts
    ),
    hb AS (SELECT doc_id, ahash, ahash // 256 AS bh, ahash % 256 AS bl FROM h),
    cand AS (
      SELECT x.doc_id AS a, y.doc_id AS b, x.ahash AS ha, y.ahash AS hbv
      FROM hb x JOIN hb y ON x.bh = y.bh AND x.doc_id < y.doc_id
      UNION
      SELECT x.doc_id, y.doc_id, x.ahash, y.ahash
      FROM hb x JOIN hb y ON x.bl = y.bl AND x.doc_id < y.doc_id
    )
    SELECT a, b, CAST(bit_count(xor(ha, hbv)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hbv)) <= 2
    """,
    doc="Perceptual-hash image near-dup (operators/multimodal.py:"
    "image_ahash + ahash_near_dup_pairs): REAL BMP decode in Arrow "
    "mapInPandas -> 16-bit average-hash (tile-position mean vs whole-"
    "image mean, integer-exact comparison) -> banded LSH blocking on the "
    "two 8-bit halves -> bit_count(xor) Hamming verify <= 2 inside "
    "buckets only. The multimodal counterpart of the text/embedding "
    "near-dup family: hash extraction is a narrow no-shuffle pass, and "
    "the pair space is posting-list-bounded, never corpus^2. The oracle "
    "recomputes the hash in closed form from the md5 digest bytes the "
    "synthesizer tiles into each image.",
    tags=("llm", "multimodal", "dedup"),
)
def q_multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = mm.synthesize_image_column(_docs(spark, sf_dir))
    hashes = mm.image_ahash(images)
    return mm.ahash_near_dup_pairs(hashes)


@query(
    "dedup_lsh_incremental",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    mh AS (
      SELECT doc_id, p,
             CAST(min((h * (((p + 1) * 2654435761) % 2147483647)
                       + (((p + 1) * 40503) % 2147483647)) % 2147483647) AS BIGINT) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p)
      GROUP BY doc_id, p
    ),
    bands AS (
      SELECT doc_id, p % 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY p) AS bsig
      FROM mh GROUP BY doc_id, band
    ),
    probe AS (SELECT * FROM bands WHERE doc_id % 5 = 0)
    SELECT DISTINCT least(d.doc_id, u.doc_id) AS a, greatest(d.doc_id, u.doc_id) AS b
    FROM probe d JOIN bands u ON d.band = u.band AND d.bsig = u.bsig
    WHERE d.doc_id <> u.doc_id
    """,
    doc="Incremental LSH maintenance (operators/dedup.py:lsh_delta_pairs): "
    "the docs with doc_id%5=0 arrive as a delta against the rest as the "
    "existing index; only pairs with a delta side are generated — the "
    "band join probes delta band rows against the full index, so cost is "
    "proportional to the increment, never |base|^2. The daily-crawl "
    "counterpart of dedup_minhash_lsh, composing IVM (delta "
    "decomposition, cf. operators/incremental.py) with the banded-LSH "
    "dedup family; signatures reproduce bit-exactly in the oracle.",
    tags=("llm", "dedup", "incremental"),
)
def q_dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    return dd.lsh_delta_pairs(base, delta)


@query(
    "text_bm25_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
    qt AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('spark', 'vector', 'window') GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS dfreq FROM qt GROUP BY tok),
    scored AS (
      SELECT qt.doc_id,
             CAST(round(
               ((CAST(s.n_docs AS DOUBLE) - CAST(df.dfreq AS DOUBLE) + 0.5) / (CAST(df.dfreq AS DOUBLE) + 0.5))
               * ((CAST(qt.tf AS DOUBLE) * 2.2)
                  / (CAST(qt.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dlen AS DOUBLE) / s.avgdl))))
               * 1000000) AS BIGINT) AS micro
      FROM qt JOIN df ON qt.tok = df.tok JOIN dl ON qt.doc_id = dl.doc_id CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(micro) AS BIGINT) AS bm25_micro
    FROM scored GROUP BY doc_id
    ORDER BY bm25_micro DESC, doc_id ASC LIMIT 20
    """,
    doc="BM25 ranked retrieval (k1=1.2, b=0.75) for a 3-term query — the "
    "sparse-retrieval scoring standard (Robertson/Sparck-Jones), "
    "complementing hybrid_search_rrf's bigram-cosine sparse leg. "
    "Determinism: the idf uses the raw odds ratio (N-df+.5)/(df+.5) "
    "instead of its log — division/multiply/add are exactly-rounded IEEE "
    "ops identical in any engine, unlike libm ln — and each per-term "
    "score is quantized to integer micros BEFORE the per-doc sum, so no "
    "float accumulation order exists. Plan: tokenize once, tf only for "
    "query terms (IN-filter prunes at the explode), df and doc-length "
    "join on bounded sides, corpus stats a 1-row broadcast. Top-20 under "
    "a (score, doc_id) total order.",
    tags=("llm", "text", "similarity"),
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ("spark", "vector", "window")
    docs = _docs(spark, sf_dir)
    # Repartition the COMPACT document rows before the explode: same
    # parallelism, but the shuffle moves one row per document instead of one
    # row per token (~100x fewer shuffled bytes), and the resulting hash
    # partitioning on doc_id satisfies both downstream groupBys' clustering
    # requirement (doc_id ⊆ (doc_id, tok)) so neither aggregates re-shuffle.
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count("*")).alias("avgdl"),
    )
    qt = toks.filter(F.col("tok").isin(*terms)).groupBy("doc_id", "tok").agg(
        F.count("*").alias("tf")
    )
    df_ = qt.groupBy("tok").agg(F.count("*").alias("dfreq"))
    idf = (F.col("n_docs").cast("double") - F.col("dfreq").cast("double") + F.lit(0.5)) / (
        F.col("dfreq").cast("double") + F.lit(0.5)
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("dlen").cast("double") / F.col("avgdl"))
    )
    micro = F.round(idf * ((tfd * F.lit(2.2)) / denom) * F.lit(1000000)).cast("bigint")
    scored = (
        qt.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", micro.alias("micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("micro").alias("bm25_micro"))
        .orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@query(
    "dedup_minhash_verified",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    mh AS (
      SELECT doc_id, p,
             CAST(min((h * (((p + 1) * 2654435761) % 2147483647)
                       + (((p + 1) * 40503) % 2147483647)) % 2147483647) AS BIGINT) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p)
      GROUP BY doc_id, p
    ),
    bands AS (
      SELECT doc_id, p % 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY p) AS bsig
      FROM mh GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, count(*) AS ninter
      FROM cand c
      JOIN sh x ON x.doc_id = c.a
      JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b,
           CAST(i.ninter AS BIGINT) AS n_inter,
           CAST(sa.sz + sb.sz - i.ninter AS BIGINT) AS n_union
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a
    JOIN sizes sb ON sb.doc_id = i.b
    WHERE 3 * i.ninter >= sa.sz + sb.sz
    """,
    doc="Production fuzzy-dedup shape: MinHash+LSH generates bounded "
    "candidates (recall stage), exact trigram Jaccard verifies each one "
    "(precision stage) — the candidates-then-verify pipeline Dolma/"
    "RedPajama run, eliminating LSH false positives without an all-pairs "
    "scan. The >= 0.5 threshold is the integer cross-multiplication "
    "3*|A intersect B| >= |A|+|B| (equivalent to J >= 1/2 via "
    "|union| = |A|+|B|-|inter|), so the boundary is engine-exact. "
    "Intersections are computed only for candidate pairs: cost is "
    "|candidates| x shingles, never n^2.",
    tags=("llm", "dedup"),
)
def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Verification via per-doc shingle SETS instead of the shingle stream
    # (r8 opt §33). The stream shape joined the 3M LSH candidates against
    # the exploded (doc, shingle) rows twice — a 450M-row intermediate
    # feeding a (a, b) hash aggregate, 35-46 s at sf0.1. Collecting each
    # doc's distinct shingles into ONE array row (the 712k-row stream
    # collapses to 5k rows) lets every candidate pair verify scan-locally
    # with array_intersect — no pair x shingle rows exist at all.
    # Byte-identical output (doc_shingles is already distinct per doc, so
    # size(set) == the old count(*) and size(array_intersect) == the old
    # shared-shingle count). Interleaved A/B: 35.0/45.6 -> 17.5/18.4 s.
    # The broadcast is |unique docs| shingle-set rows; for corpora where
    # that side outgrows the broadcast budget, drop the hint and let the
    # pairs co-partition against the set frame on a then b — the shuffle
    # then carries each pair's two sets once, still strictly fewer bytes
    # than the old stream join's 450M narrow rows.
    docs = _docs(spark, sf_dir)
    wide = dd.minhash_wide(docs, num_perm=16)
    cand = dd.lsh_candidate_pairs(wide).select("a", "b")
    sh = dd.doc_shingles(docs, n=3)
    ss = (
        sh.groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("ss"))
        .localCheckpoint(eager=False)  # consumed by both pair sides
    )
    return (
        cand.join(F.broadcast(ss.select(F.col("doc_id").alias("a"), F.col("ss").alias("ssa"))), "a")
        .join(F.broadcast(ss.select(F.col("doc_id").alias("b"), F.col("ss").alias("ssb"))), "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("ssa", "ssb")).alias("ni"),
            F.size("ssa").alias("sza"),
            F.size("ssb").alias("szb"),
        )
        .filter(3 * F.col("ni") >= F.col("sza") + F.col("szb"))
        .select(
            "a",
            "b",
            F.col("ni").cast("bigint").alias("n_inter"),
            (F.col("sza") + F.col("szb") - F.col("ni")).cast("bigint").alias("n_union"),
        )
    )


@query(
    "multimodal_png_decode",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents)
    SELECT doc_id,
           8 AS width,
           CAST(4 * (1 + bs[1] % 4) AS INT) AS height,
           CAST((4 * (1 + bs[1] % 4) / 2) * list_aggregate(bs, 'sum') AS BIGINT) AS sum_pixel,
           CAST(list_aggregate(bs, 'min') AS INT) AS min_pixel,
           CAST(list_aggregate(bs, 'max') AS INT) AS max_pixel,
           list_aggregate(bs, 'sum') / 16.0 AS mean_pixel,
           TRUE AS valid
    FROM b
    """,
    doc="Multimodal COMPRESSED-codec decode: synthesize a real 8-bit "
    "grayscale PNG per doc (8 x 4*(1+b0%4) px, pixels = md5(text) digest "
    "tiled, scanline filter = row % 5 so None/Sub/Up/Average/Paeth all "
    "appear in every image), then decode it with the stdlib-zlib PNG "
    "parser (signature + chunk walk with CRC32 verification + inflate + "
    "full filter reconstruction incl. the Paeth predictor) in "
    "Arrow-batched mapInPandas (operators/multimodal.py:png_decode). "
    "Closes part of the round-2 'uncompressed formats only' limitation "
    "without any codec library. The oracle recomputes dims and exact "
    "sum/min/max/mean from the digest bytes — a single wrong "
    "reconstructed pixel anywhere breaks the sum.",
    tags=("llm", "multimodal"),
)
def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = mm.synthesize_png_column(_docs(spark, sf_dir))
    return mm.decode_png_meta(images)


def _logreg_oracle() -> str:
    """Unrolled hard-sigmoid GD training in DuckDB SQL — replays
    operators/linear.py:logreg_train's integer updates exactly."""
    S, HALF = 1_000_000, 500_000
    fld4 = "CAST((z - (((z % 4) + 4) % 4)) // 4 AS BIGINT)"
    err = f"y * {S} - GREATEST(0, LEAST({S}, {fld4} + {HALF}))"

    def fldn(g: str) -> str:
        return f"CAST(({g} - ((({g} % dn) + dn) % dn)) // dn AS BIGINT)"

    ctes = [
        """d AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
                        CAST(round(l_discount * 100) AS BIGINT) AS x2,
                        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                 FROM lineitem)""",
        "nn AS (SELECT CAST(count(*) * 100 AS BIGINT) AS dn FROM d)",
        "it0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2)",
    ]
    for i in range(1, LOGREG_ITERATIONS + 1):
        p = f"it{i-1}"
        ctes.append(f"""it{i} AS (
          SELECT w0 + {fldn('g0')} AS w0, w1 + {fldn('g1')} AS w1, w2 + {fldn('g2')} AS w2
          FROM (
            SELECT (SELECT w0 FROM {p}) AS w0, (SELECT w1 FROM {p}) AS w1,
                   (SELECT w2 FROM {p}) AS w2, (SELECT dn FROM nn) AS dn,
                   sum(err) AS g0, sum(err * x1) AS g1, sum(err * x2) AS g2
            FROM (
              SELECT {err} AS err, x1, x2
              FROM (SELECT x1, x2, y,
                           (SELECT w0 FROM {p}) + (SELECT w1 FROM {p}) * x1
                           + (SELECT w2 FROM {p}) * x2 AS z
                    FROM d)
            )
          )
        )""")
    last = f"it{LOGREG_ITERATIONS}"
    return f"""
    WITH {','.join(ctes)}
    SELECT w0, w1, w2,
           (SELECT count(*) FROM d) AS n,
           (SELECT CAST(sum(CASE WHEN (CASE WHEN GREATEST(0, LEAST({S}, {fld4} + {HALF})) >= {HALF}
                                  THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END) AS BIGINT)
            FROM (SELECT x1, x2, y,
                         (SELECT w0 FROM {last}) + (SELECT w1 FROM {last}) * x1
                         + (SELECT w2 FROM {last}) * x2 AS z
                  FROM d)) AS n_correct
    FROM {last}
    """


@query(
    "logreg_train_exact",
    oracle=_logreg_oracle(),
    doc="Distributed model training beyond NB/k-means: full-batch gradient "
    "descent for logistic regression with a HARD-SIGMOID link "
    "(clamp(z/4 + 1/2, 0, 1) — the quantized-network sigmoid), all "
    "arithmetic integer fixed-point (operators/linear.py). Features: "
    "lineitem quantity + discount-percent; label: returnflag = 'R'; 3 "
    "iterations, lr = 1/100. Per iteration the d-vector of weights "
    "broadcasts into the scan as literals and ONE aggregate computes the "
    "gradient sums with map-side partial aggregation — the classic "
    "parameter-broadcast GD dataflow (MLlib's aggregate-based "
    "optimizers), minus float non-determinism: floor division uses "
    "fld(a,b) = (a - pmod(a,b))/b, exact for negative gradients under "
    "both engines' truncated %%. The oracle unrolls the identical "
    "3-iteration recurrence in SQL; output = final weights + "
    "integer-exact training accuracy.",
    tags=("llm", "ml", "iterative"),
)
def q_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.linear import logreg_score, logreg_train

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    li = li.localCheckpoint(eager=True)  # scanned once per iteration + scoring
    w = logreg_train(li, ("x1", "x2"), "y", iterations=LOGREG_ITERATIONS, lr_inv=100)
    return logreg_score(li, w, ("x1", "x2"), "y")


@query(
    "multimodal_gif_decode",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents)
    SELECT doc_id,
           8 AS width,
           CAST(2 * (1 + bs[4] % 8) AS INT) AS height,
           CAST((1 + bs[4] % 8) * list_aggregate(bs, 'sum') AS BIGINT) AS sum_pixel,
           CAST(list_aggregate(bs, 'min') AS INT) AS min_pixel,
           CAST(list_aggregate(bs, 'max') AS INT) AS max_pixel,
           list_aggregate(bs, 'sum') / 16.0 AS mean_pixel,
           TRUE AS valid
    FROM b
    """,
    doc="Second COMPRESSED codec in the multimodal family: a real LZW "
    "GIF89a per doc (8 x 2*(1+b3%8) grayscale, pixels = md5(text) digest "
    "tiled; 256-entry global color table), decoded by the stdlib-only "
    "GIF parser (header + logical-screen walk, sub-block reassembly, "
    "variable-width LZW with dictionary rebuild, width growth at the "
    "decoder-lag 2^w-1 boundary, clear-code reset, cScSc case) in "
    "Arrow-batched mapInPandas (operators/multimodal.py:gif_decode). "
    "With png_decode this closes the round-2 'uncompressed formats "
    "only' limitation for both deflate- and LZW-family codecs. The "
    "oracle recomputes dims and exact pixel stats from the digest "
    "bytes — any mis-decoded index anywhere breaks the sum.",
    tags=("llm", "multimodal"),
)
def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = mm.synthesize_gif_column(_docs(spark, sf_dir))
    return mm.decode_gif_meta(images)


_RP_COMP_SQL = """
    ROUND(list_aggregate(list_transform(generate_series(1, 64), j ->
      CAST(embedding[j] AS DOUBLE) *
      (CASE WHEN ('0x' || substring(md5('{k}_' || CAST(j - 1 AS VARCHAR)), 1, 1))::BIGINT % 2 = 0
            THEN 1.0 ELSE -1.0 END)), 'sum') / 2.0, 4)
"""


@query(
    "embedding_random_projection",
    oracle=f"""
    SELECT vec_id,
           {_RP_COMP_SQL.format(k=0)} AS p0,
           {_RP_COMP_SQL.format(k=1)} AS p1,
           {_RP_COMP_SQL.format(k=2)} AS p2,
           {_RP_COMP_SQL.format(k=3)} AS p3
    FROM embeddings
    """,
    doc="Johnson-Lindenstrauss random projection 64 -> 4 dims "
    "(operators/similarity.py random_project): deterministic dense ±1 "
    "Achlioptas matrix from the same md5-derived signs as the LSH "
    "hyperplanes, scaled 1/sqrt(4) — the standard payload-shrinking "
    "preprocessing before LSH bucketing or k-means at 100 TB (every "
    "downstream shuffle carries 4 doubles instead of 64). Scan-local, "
    "zero shuffles; the sign matrix is a plan literal, and the oracle "
    "recomputes every projected value from the same md5 signs.",
    tags=("llm", "similarity"),
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.random_project(emb, dim=64, n_components=4)


@query(
    "text_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc, t.term
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term <> ''
    ),
    tf AS (SELECT term, doc, count(*) AS tf FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc) AS rn
      FROM tf
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           CAST(min(CASE WHEN rn = 1 THEN doc END) AS BIGINT) AS top_doc,
           CAST(max(tf) AS BIGINT) AS top_tf
    FROM ranked GROUP BY term
    """,
    doc="Inverted-index construction (operators/textstats.py "
    "inverted_index): per term, document frequency, collection "
    "frequency, and the impact-ordered head posting (highest-tf doc, "
    "ties to smallest id). One explode + one (term, doc) map-side-"
    "combinable aggregate + one per-term rollup; the (term, doc) "
    "shuffle is hash-partitioned by term, i.e. each reducer emits one "
    "posting shard — the index build IS the shuffle, nothing driver-"
    "bounded. The oracle reproduces the head posting with a window "
    "rank over the same tf relation.",
    tags=("llm", "text"),
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.inverted_index(_docs(spark, sf_dir))


@query(
    "text_blockmax_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc, t.term
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term <> ''
    ),
    tf AS (SELECT term, doc, count(*) AS tf FROM toks GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    idf AS (
      SELECT term, CAST(round(ln(n.n * 1.0 / count(DISTINCT doc)) * 1000) AS BIGINT) AS idf_millinat
      FROM tf CROSS JOIN n GROUP BY term, n.n
    )
    SELECT tf.term, CAST(tf.doc - (tf.doc % 64) AS BIGINT) AS block_start,
           CAST(count(*) AS BIGINT) AS n_postings,
           CAST(max(tf.tf) AS BIGINT) AS max_tf,
           CAST(max(tf.tf * idf.idf_millinat) AS BIGINT) AS block_max_impact
    FROM tf JOIN idf USING (term)
    GROUP BY tf.term, tf.doc - (tf.doc % 64)
    """,
    doc="Block-Max index construction (operators/textstats.py:"
    "blockmax_index) — the skipping structure Block-Max WAND dynamic "
    "pruning consumes (Ding & Suel SIGIR'11): per (term, 64-doc-id "
    "block), posting count, max tf, and the block-local max tf*idf "
    "impact, idf quantized once per term to integer millinats. Doc-id "
    "blocks derive arithmetically (doc - doc%64), so the build is "
    "explode + three combinable hash aggregates — no windows or sorts; "
    "at 100 TB each term shard emits its block maxima in one pass and "
    "output size is |postings|/64.",
    tags=("llm", "text"),
)
def q_text_blockmax_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.blockmax_index(_docs(spark, sf_dir))


@query(
    "text_phrase_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, i AS pos, lower(ws[i]) AS term
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    t1 AS (SELECT doc_id, pos FROM toks WHERE term = 'hash'),
    t2 AS (SELECT doc_id, pos FROM toks WHERE term = 'value'),
    t3 AS (SELECT doc_id, pos FROM toks WHERE term = 'table')
    SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM t1
    JOIN t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
    JOIN t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
    GROUP BY t1.doc_id
    """,
    doc="Exact phrase search ('hash value table') over a positional "
    "inverted index (operators/textstats.py:phrase_search) — the query "
    "side of the index text_inverted_index builds: posexplode to the "
    "(doc, pos, term) posting relation, per-term selective filters, "
    "k-1 adjacency equi-joins on (doc, pos + i), per-doc match count "
    "(overlapping occurrences all count). At 100 TB the postings "
    "relation is term-partitioned, so a phrase query touches only its "
    "terms' shards and joins term-selective slivers, never the corpus. "
    "The oracle rebuilds positions with generate_series (1-based vs "
    "Spark's 0-based posexplode — adjacency arithmetic is base-"
    "invariant).",
    tags=("llm", "text"),
)
def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.phrase_search(_docs(spark, sf_dir), ["hash", "value", "table"])


@query(
    "classifier_calibration_bins",
    oracle=f"""
    WITH {_NB_CTES},
    binned AS (
      SELECT *, ntile(10) OVER (ORDER BY score_millinats, doc_id) AS bin FROM nb
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(sum(CASE WHEN correct THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS accuracy,
           CAST(min(score_millinats) AS BIGINT) AS min_score,
           CAST(max(score_millinats) AS BIGINT) AS max_score
    FROM binned GROUP BY bin
    """,
    doc="Classifier reliability diagram: the NB language classifier's "
    "predictions (text_nb_classifier, shared _NB_CTES oracle) bucketed "
    "into score deciles (ntile ordered by score, doc_id tiebreak — "
    "deterministic), with per-bin accuracy — the calibration audit run "
    "before a quality/language classifier's scores are trusted as "
    "routing thresholds in a data pipeline. Monotone accuracy-by-decile "
    "means scores can gate; a flat curve means they cannot. One window "
    "sort over the per-doc prediction frame (|docs| rows, narrow), one "
    "10-group aggregate.",
    tags=("llm", "text"),
)
def q_classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    nb = ts.nb_language_classifier(_docs(spark, sf_dir))
    binned = nb.withColumn(
        "bin", F.ntile(10).over(Window.orderBy("score_millinats", "doc_id"))
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0)).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("correct"), 1).otherwise(0)) / F.count("*"), 6
        ).alias("accuracy"),
        F.min("score_millinats").cast("bigint").alias("min_score"),
        F.max("score_millinats").cast("bigint").alias("max_score"),
    )


@query(
    "multimodal_jpeg_decode",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents),
    d AS (SELECT doc_id, bs, 8 * (1 + bs[2] % 3) AS hh,
                 list_slice(bs, 1, 2 * (1 + bs[2] % 3)) AS blocks
          FROM b)
    SELECT doc_id,
           16 AS width,
           CAST(hh AS INT) AS height,
           CAST(64 * list_aggregate(blocks, 'sum') AS BIGINT) AS sum_pixel,
           CAST(list_aggregate(blocks, 'min') AS INT) AS min_pixel,
           CAST(list_aggregate(blocks, 'max') AS INT) AS max_pixel,
           (64 * list_aggregate(blocks, 'sum')) / (16.0 * hh) AS mean_pixel,
           TRUE AS valid
    FROM d
    """,
    doc="Third COMPRESSED codec family in the multimodal suite — after "
    "deflate (PNG) and LZW (GIF), the DCT/entropy-coding family: a real "
    "baseline JPEG per doc (16 x 8*(1+b1%3) grayscale from 8x8-constant "
    "blocks, flat DQT), decoded by the stdlib+numpy baseline decoder "
    "(marker walk with APPn skip, arbitrary DQT/DHT parsing, canonical "
    "Huffman entropy decode with 0xFF00 unstuffing, DC difference + AC "
    "run-length ZRL/EOB, dezigzag, dequantize, float IDCT, level shift) "
    "in Arrow-batched mapInPandas (operators/multimodal.py:jpeg_decode). "
    "Block-constant pixels + flat quantization make the lossy pipeline "
    "exactly invertible, so the oracle recomputes pixel stats from the "
    "digest bytes; the AC path is covered by coefficient-level property "
    "tests (tests/test_round3_fixes.py).",
    tags=("llm", "multimodal"),
)
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = mm.synthesize_jpeg_column(_docs(spark, sf_dir))
    return mm.decode_jpeg_meta(images)


@query(
    "multimodal_ulaw_audio",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents),
    s AS (
      SELECT doc_id, 1 + bs[1] % 4 AS t,
             list_transform(range(8), i -> CASE
                 WHEN bs[2*i+1] + 256*bs[2*i+2] >= 32768
                 THEN bs[2*i+1] + 256*bs[2*i+2] - 65536
                 ELSE bs[2*i+1] + 256*bs[2*i+2] END) AS smp
      FROM b
    ),
    u AS (SELECT doc_id, t, unnest(smp) AS x FROM s),
    m AS (
      SELECT doc_id, t, x, least(abs(x), 32635) + 132 AS mag,
             CASE WHEN least(abs(x), 32635) + 132 < 256 THEN 0
                  WHEN least(abs(x), 32635) + 132 < 512 THEN 1
                  WHEN least(abs(x), 32635) + 132 < 1024 THEN 2
                  WHEN least(abs(x), 32635) + 132 < 2048 THEN 3
                  WHEN least(abs(x), 32635) + 132 < 4096 THEN 4
                  WHEN least(abs(x), 32635) + 132 < 8192 THEN 5
                  WHEN least(abs(x), 32635) + 132 < 16384 THEN 6
                  ELSE 7 END AS ex
      FROM u
    ),
    d AS (
      SELECT doc_id, t,
             (CASE WHEN x < 0 THEN -1 ELSE 1 END)
             * ((((mag // (1 << (ex + 3))) % 16 * 8 + 132) << ex) - 132) AS dx
      FROM m
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(8 * t AS BIGINT) AS n_samples,
           CAST(t * sum(abs(dx)) AS BIGINT) AS sum_abs,
           CAST(t * sum(dx * dx) AS BIGINT) AS sum_sq,
           TRUE AS valid
    FROM d GROUP BY doc_id, t
    """,
    doc="Second audio codec after PCM16: G.711 mu-law companding in a "
    "real RIFF container (format tag 7), synthesized from digest int16 "
    "samples and decoded by the chunk-walking expander "
    "(operators/multimodal.py:wav_ulaw_decode). Mu-law is the right "
    "second codec for an oracle-gated suite: logarithmic 8-bit "
    "compression whose encode AND decode are closed-form integer "
    "arithmetic (sign/segment/mantissa), so the DuckDB oracle replicates "
    "the full compand-expand pipeline per sample — unlike ADPCM, whose "
    "stateful step tables a SQL oracle could not express. Integer "
    "sum_abs/sum_sq over the EXPANDED samples catch any mis-decoded "
    "segment or mantissa anywhere.",
    tags=("llm", "multimodal"),
)
def q_multimodal_ulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = mm.synthesize_ulaw_column(_docs(spark, sf_dir))
    return mm.decode_ulaw_meta(audio)


@query(
    "multimodal_mjpeg_sample",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_MD5_BYTES} AS bs FROM documents),
    d AS (SELECT doc_id, bs,
                 8 * (1 + bs[2] % 3) AS hh,
                 2 + bs[3] % 3 AS nf,
                 2 * (1 + bs[2] % 3) AS nb
          FROM b),
    fr AS (SELECT doc_id, hh, nf, nb, bs, unnest(range(0, nf, 2)) AS f FROM d),
    px AS (SELECT doc_id, hh, nf, f,
                  list_aggregate(
                      list_transform(range(nb), k -> bs[(k + f) % 16 + 1]),
                      'sum') AS fsum
           FROM fr)
    SELECT doc_id,
           CAST(max(nf) AS INT) AS n_frames,
           CAST(count(*) AS INT) AS n_sampled,
           16 AS width,
           CAST(max(hh) AS INT) AS height,
           CAST(64 * sum(fsum) AS BIGINT) AS sum_pixel,
           TRUE AS valid
    FROM px GROUP BY doc_id
    """,
    doc="Video frame sampling over a real Motion-JPEG elementary stream: "
    "each doc gets a 2-4 frame clip of concatenated baseline JPEGs "
    "(frame f's block k holds digest byte (k+f)%16, so every frame "
    "differs), split on exact EOI boundaries (byte stuffing guarantees "
    "0xFFD9 never appears inside entropy-coded data) and decoding ONLY "
    "every 2nd frame — the decode-skip pattern a 100 TB video pipeline "
    "lives on, since MJPEG frames are independently decodable "
    "(operators/multimodal.py:mjpeg_frame_stats). The oracle recomputes "
    "exact pixel sums over the SAMPLED frame subset from the digest "
    "bytes, so a wrong frame split, wrong stride, or any decode error "
    "in any sampled frame breaks the hash.",
    tags=("llm", "multimodal"),
)
def q_multimodal_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    videos = mm.synthesize_mjpeg_column(_docs(spark, sf_dir))
    return mm.mjpeg_frame_stats(videos)


@query(
    "chi2_feature_selection",
    oracle=r"""
    WITH toks AS (
      SELECT lang AS label,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    tb AS (SELECT label,
                  ('0x' || substring(md5('nb:' || tok), 1, 8))::BIGINT % 64 AS b
           FROM toks),
    c AS (SELECT label, b, count(*) AS c FROM tb GROUP BY label, b),
    rb AS (SELECT b, sum(c) AS rb FROM c GROUP BY b),
    cl AS (SELECT label, sum(c) AS cl FROM c GROUP BY label),
    n AS (SELECT sum(c) AS n FROM c),
    x AS (
      SELECT c.label, c.b AS bucket, c.c,
             CAST(n.n AS DOUBLE)
               * CAST(c.c * (n.n - rb.rb - cl.cl + c.c)
                      - (rb.rb - c.c) * (cl.cl - c.c) AS DOUBLE)
               * CAST(c.c * (n.n - rb.rb - cl.cl + c.c)
                      - (rb.rb - c.c) * (cl.cl - c.c) AS DOUBLE)
               / rb.rb / (n.n - rb.rb) / cl.cl / (n.n - cl.cl) AS chi2
      FROM c JOIN rb USING (b) JOIN cl USING (label) CROSS JOIN n
    ),
    r AS (SELECT *, row_number() OVER (ORDER BY chi2 DESC, label, bucket) AS rank
          FROM x)
    SELECT CAST(rank AS INT) AS rank, label, bucket,
           CAST(c AS BIGINT) AS c, chi2
    FROM r WHERE rank <= 10
    """,
    doc="Chi-square feature selection over the NB classifier's hashed "
    "buckets (operators/textstats.py:chi2_feature_selection): one-vs-rest "
    "2x2 contingency per (label, bucket), top-10 most label-associated "
    "features — the pre-training feature audit that closes the classifier "
    "family (train -> calibrate -> discriminate -> conformalize -> "
    "select). Counts exact BIGINTs; delta cast to double once before "
    "squaring (delta^2 overflows int64 at corpus scale), fixed "
    "left-associative chain so both engines emit identical IEEE values. "
    "Everything after the (label, bucket) groupBy runs on the bounded "
    "model frame.",
    tags=("llm", "text", "eval"),
)
def q_chi2_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.chi2_feature_selection(_docs(spark, sf_dir))


@query(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest([substring(text, i, 1)
             FOR i IN generate_series(1, length(text))]) AS ch
      FROM documents
    ),
    cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
                   CAST(count(*) AS BIGINT) AS n_distinct
            FROM cnt GROUP BY doc_id)
    SELECT t.doc_id, t.n_chars, t.n_distinct,
           CAST(sum(c.c * CAST(round(1000 * ln(t.n_chars * 1.0 / c.c)) AS BIGINT))
                // t.n_chars AS BIGINT) AS entropy_millinat
    FROM cnt c JOIN tot t USING (doc_id)
    GROUP BY t.doc_id, t.n_chars, t.n_distinct
    """,
    doc="Per-document Shannon character entropy in millinats "
    "(operators/textstats.py:char_entropy) — the cheap first-line quality "
    "gate for binary junk / key-mash / base64 blobs (near-uniform chars -> "
    "high entropy) and repeated-char spam (near zero); natural language "
    "sits in a mid band. Distinct-value collapse: one char explode over "
    "id-prepartitioned docs (both aggregates shuffle-free), <=|alphabet| "
    "cells per doc, one round(1000*ln(n/c)) per cell, integer weights, one "
    "integer division at the end — reduction-order-immune, so a "
    "1000-executor sum hash-matches the single-threaded oracle.",
    tags=("llm", "text", "quality"),
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.char_entropy(_docs(spark, sf_dir))


_EXCERPT_SQL = """
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         substring(text, 1, length(text) // 2) AS text, lang
  FROM documents WHERE doc_id < 30
"""


@query(
    "dedup_shingle_containment",
    oracle=f"""
    WITH base AS ({_EXCERPT_SQL}),
    sh AS (
      SELECT doc_id, lang,
             unnest(list_distinct([substring(lower(text), i, 3)
                    FOR i IN generate_series(1, greatest(length(text)-2, 0))])) AS shingle
      FROM base
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
                         AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
           CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           CAST(i.inter * 1000 // sa.sz AS BIGINT) AS cont_a_permille,
           CAST(i.inter * 1000 // sb.sz AS BIGINT) AS cont_b_permille
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
    WHERE i.inter * 1000 >= 900 * least(sa.sz, sb.sz)
    """,
    doc="Asymmetric shingle containment pairs "
    "(operators/dedup.py:shingle_containment_pairs): |A∩B| / |smaller "
    "side| >= 0.9 — the relation Jaccard MISSES. The fixture injects "
    "half-length excerpts of docs < 30 at id+3000000: an excerpt shares "
    "nearly all of ITS shingles with its source while the source shares "
    "few of its own, so Jaccard ~0.5 but containment ~1.0 — exactly how "
    "quotes and truncated mirrors leak through Jaccard-only dedup. "
    "Inverted-index self-join blocked on lang, integer cross-multiplied "
    "threshold (inter*1000 >= 900*min(sz)), permille ratios via integer "
    "division — no float anywhere.",
    tags=("llm", "dedup"),
)
def q_dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import cartography_spark.operators.dedup as dd

    d = _docs(spark, sf_dir)
    excerpts = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) DIV 2)").alias("text"),
        "lang",
    )
    base = d.select("doc_id", "text", "lang").unionByName(excerpts)
    return dd.shingle_containment_pairs(base, min_permille=900)


@query(
    "unicode_nfc_dedup",
    oracle="""
    WITH v AS (
      SELECT doc_id, 0 AS variant, text || 'caf' || chr(233) AS vtext
      FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id, 1, text || 'cafe' || chr(769)
      FROM documents WHERE doc_id < 200
    ),
    n AS (SELECT doc_id, variant, nfc_normalize(vtext) AS norm_text FROM v)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT md5(norm_text)) AS BIGINT) AS n_keys,
           CAST(min(length(norm_text)) AS BIGINT) AS norm_len
    FROM n GROUP BY doc_id
    """,
    doc="Unicode NFC normalization dedup "
    "(operators/textprep.py:unicode_nfc_normalize, Arrow mapInPandas — "
    "Spark SQL has no normalizer builtin; DuckDB's nfc_normalize is the "
    "oracle): each doc is emitted in precomposed (U+00E9) and decomposed "
    "(e + U+0301) variants that hash differently raw; after NFC both "
    "collapse to ONE md5 key per doc (n_keys=1 is the verified "
    "invariant, and the normalized length proves the combining mark was "
    "fused, not dropped). Web corpora mix these forms constantly — "
    "every hash-keyed dedup stage needs this pass first. Scan-parallel "
    "stateless batches, no shuffle until the final per-doc count.",
    tags=("llm", "text", "dedup"),
)
def q_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.textprep import unicode_nfc_normalize

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select("doc_id", "text")
    variants = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("variant"),
                    F.concat(F.col("text"), F.lit("café")).alias("vtext"),
                ),
                F.struct(
                    F.lit(1).alias("variant"),
                    F.concat(F.col("text"), F.lit("café")).alias("vtext"),
                ),
            )
        ).alias("v"),
    ).select("doc_id", "v.variant", "v.vtext")
    norm = unicode_nfc_normalize(variants, "vtext", out_col="norm_text")
    return norm.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        F.count_distinct(F.md5("norm_text")).cast("bigint").alias("n_keys"),
        F.min(F.length("norm_text")).cast("bigint").alias("norm_len"),
    )


@query(
    "similarity_binary_hamming",
    oracle=f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
    sig AS (
      SELECT vec_id, v,
        list_sum([CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
                  FOR i IN generate_series(0, 31)]) AS lo,
        list_sum([CASE WHEN v[i+33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
                  FOR i IN generate_series(0, 31)]) AS hi
      FROM e
    ),
    q AS (SELECT lo AS qlo, hi AS qhi, v AS qv FROM sig WHERE vec_id = 0),
    h AS (
      SELECT s.vec_id, s.v, q.qv,
             CAST(bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi)) AS BIGINT) AS hamming
      FROM sig s CROSS JOIN q WHERE s.vec_id <> 0
    ),
    cand AS (SELECT * FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 40)
    SELECT vec_id, hamming, ROUND({_cos64('cand.v', 'cand.qv')}, 6) AS cosine
    FROM cand
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    doc="Binary (1-bit sign) quantized retrieval "
    "(operators/similarity.py:binary_sign_topk) — the 32x-compression "
    "rung of the ANN ladder below int8 (4x) and PQ: signatures packed 32 "
    "sign bits per BIGINT word (two words; bit 63 of one word overflows "
    "signed engines), candidates ranked by Hamming distance (one "
    "xor+popcount per word — the cheapest possible 100 TB vector scan), "
    "exact-cosine re-rank over the top-40 pool. All JVM codegen: a fixed "
    "fan of CASE terms packs, two popcounts scan, the float cosine "
    "touches 40 rows.",
    tags=("llm", "similarity"),
)
def q_similarity_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.binary_sign_topk(emb, _query_vec(spark, sf_dir))


# nDCG position discounts round(1e6 / log2(i+1)), i = 1..10 — shared integer
# literals with the oracle so no engine evaluates log2 at query time.
_NDCG_DISC = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
_NDCG_IDCG = sum((11 - i) * d for i, d in zip(range(1, 11), _NDCG_DISC))  # = 29966114


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
    WITH qs AS (
      SELECT vec_id AS qid, embedding AS qv,
             {_SIG_SQL.format(vec='embedding')} AS qsig
      FROM embeddings WHERE vec_id < 8
    ),
    sigs AS (
      SELECT vec_id, embedding, {_SIG_SQL.format(vec='embedding')} AS sig
      FROM embeddings
    ),
    disc AS (SELECT {_NDCG_DISC} AS d),
    exact AS (
      SELECT qid, vec_id, 11 - rn AS rel FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_cos64('e.embedding', 'q.qv')} DESC, e.vec_id ASC) AS rn
        FROM sigs e CROSS JOIN qs q WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    ann AS (
      SELECT qid, vec_id, rn AS arank FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY {_cos64('e.embedding', 'q.qv')} DESC, e.vec_id ASC) AS rn
        FROM sigs e JOIN qs q ON e.sig = q.qsig WHERE e.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    scored AS (
      SELECT a.qid, a.arank, COALESCE(x.rel, 0) AS rel
      FROM ann a LEFT JOIN exact x ON x.qid = a.qid AND x.vec_id = a.vec_id
    )
    SELECT s.qid,
           CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) * 100 AS BIGINT) AS recall_permille,
           CAST(COALESCE(max(CASE WHEN rel > 0 THEN 1000000 // arank END), 0) AS BIGINT) AS mrr_micro,
           CAST(sum(rel * d.d[arank]) AS BIGINT) AS dcg_micro,
           CAST(sum(rel * d.d[arank]) * 1000 // {_NDCG_IDCG} AS BIGINT) AS ndcg_permille
    FROM scored s CROSS JOIN disc d
    GROUP BY s.qid
    """,
    doc="In-engine retrieval-quality evaluation of the LSH ANN lane "
    "against the exact ranking: per query (vec_ids 0-7), recall@10, "
    "MRR and nDCG@10 of the same-bucket candidates vs the brute-force "
    "top-10. Relevance = graded exact rank (11-rank); position discounts "
    "are PRE-QUANTIZED integer micros round(1e6/log2(i+1)) shared as "
    "literals with the oracle, so no log evaluates at query time and "
    "every metric is an exact integer (ndcg_permille = dcg*1000 DIV "
    "idcg). This is the measurement loop an ANN deployment needs before "
    "trading recall for scan cost — the ladder's rungs (binary/int8/PQ/"
    "IVF) are tuned BY this number. At 100 TB the per-query window "
    "becomes a TakeOrdered per query; the plan is otherwise unchanged.",
    tags=("llm", "similarity", "eval"),
)
def q_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    sig = sim.hyperplane_signature(F.col("embedding"), dim=64, n_planes=8)
    embs = emb.select("vec_id", "embedding", sig.alias("sig"))
    embs = embs.localCheckpoint(eager=False)  # signature computed once, reused by both lanes
    qs = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("sig").alias("qsig"),
    )
    cos = sim.cosine_similarity(
        F.col("embedding").cast("array<double>"), F.col("qv").cast("array<double>")
    )
    w = Window.partitionBy("qid").orderBy(F.col("__cos").desc(), F.col("vec_id").asc())
    exact = (
        embs.crossJoin(F.broadcast(qs.select("qid", "qv")))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("__cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id", (11 - F.col("rn")).alias("rel"))
    )
    ann = (
        embs.join(F.broadcast(qs), embs.sig == qs.qsig)
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("__cos", cos)
        .withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= 10)
        .select("qid", "vec_id", "arank")
    )
    disc = F.array(*[F.lit(d) for d in _NDCG_DISC])
    scored = ann.join(exact, ["qid", "vec_id"], "left").select(
        "qid", "arank", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    hit = F.col("rel") > 0
    return scored.groupBy("qid").agg(
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_hits"),
        (F.sum(F.when(hit, 1).otherwise(0)) * 100).cast("bigint").alias("recall_permille"),
        F.coalesce(
            F.max(F.when(hit, F.expr("1000000 DIV arank"))), F.lit(0)
        ).cast("bigint").alias("mrr_micro"),
        F.sum(F.col("rel") * F.element_at(disc, F.col("arank"))).cast("bigint").alias("dcg_micro"),
        F.expr(f"CAST(sum(rel * element_at(array({','.join(map(str, _NDCG_DISC))}), arank)) * 1000 DIV {_NDCG_IDCG} AS BIGINT)").alias("ndcg_permille"),
    )


def _mmr_oracle() -> str:
    """Unrolled 5-stage MMR oracle. The diversity penalty constant is the
    exact IEEE repr of Python's ``1.0 - MMR_LAMBDA`` (0.30000000000000004)
    so both engines evaluate the identical double chain before the single
    micro-quantizing round per (candidate, step)."""
    pen = repr(1.0 - MMR_LAMBDA)
    stages = [
        f"""s1 AS (
      SELECT vec_id, v,
             CAST(round(({MMR_LAMBDA!r}*rel - {pen}*0.0)*1000000) AS BIGINT) AS score
      FROM cand ORDER BY score DESC, vec_id ASC LIMIT 1
    )"""
    ]
    for j in range(2, MMR_K + 1):
        sims = ", ".join(_cos64("c.v", f"s{i}.v") for i in range(1, j))
        maxsim = f"GREATEST({sims})" if j > 2 else sims
        joins = " ".join(f"CROSS JOIN s{i}" for i in range(1, j))
        excl = " UNION ALL ".join(f"SELECT vec_id FROM s{i}" for i in range(1, j))
        stages.append(
            f"""s{j} AS (
      SELECT c.vec_id, c.v,
             CAST(round(({MMR_LAMBDA!r}*c.rel - {pen}*{maxsim})*1000000) AS BIGINT) AS score
      FROM cand c {joins}
      WHERE c.vec_id NOT IN ({excl})
      ORDER BY score DESC, c.vec_id ASC LIMIT 1
    )"""
        )
    final = " UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS rank, vec_id, score AS score_micro FROM s{j}"
        for j in range(1, MMR_K + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.v, {_cos64('e.v', 'q.qv')} AS rel
      FROM e CROSS JOIN q WHERE e.vec_id <> 0
      ORDER BY rel DESC, vec_id ASC LIMIT 20
    ),
    {', '.join(stages)}
    {final}
    """


@query(
    "similarity_mmr_rerank",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance diversified re-ranking "
    "(operators/similarity.py:mmr_rerank, Carbonell & Goldstein 1998): "
    "greedy top-5 from the exact top-20 pool maximizing lam*rel - "
    "(1-lam)*max-sim-to-selected — the diversity-aware rerank production "
    "retrieval runs above any ANN lane (plain top-k returns near-"
    "duplicates of the best hit). The pool is computed distributed once; "
    "each greedy step is one distributed argmax with the <=5 selected "
    "vectors as plan literals (driver-bounded iteration, the BPE merge-"
    "table precedent). Scores quantize to integer micros with ONE round "
    "per (candidate, step) and the penalty constant is the exact IEEE "
    "repr of 1.0-lam, so the greedy trajectory is bit-reproducible — the "
    "oracle replays all five stages as unrolled CTEs.",
    tags=("llm", "similarity"),
)
def q_similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.mmr_rerank(emb, _query_vec(spark, sf_dir), k=MMR_K, pool=20, lam=MMR_LAMBDA)


@query(
    "text_pmi_collocations",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS tok
      FROM words CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    pairs AS (
      SELECT * FROM (
        SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        FROM toks
      ) WHERE prev IS NOT NULL
    ),
    n AS (SELECT count(*) AS nn FROM pairs),
    cx AS (SELECT prev, count(*) AS c_x FROM pairs GROUP BY prev),
    cy AS (SELECT tok, count(*) AS c_y FROM pairs GROUP BY tok),
    cxy AS (SELECT prev, tok, count(*) AS c_pair FROM pairs
            GROUP BY prev, tok HAVING count(*) >= 3)
    SELECT prev, tok, CAST(c_pair AS BIGINT) AS c_pair,
           CAST(nn * c_pair AS BIGINT) AS pmi_num,
           CAST(c_x * c_y AS BIGINT) AS pmi_den
    FROM cxy JOIN cx USING (prev) JOIN cy USING (tok) CROSS JOIN n
    ORDER BY CAST(nn * c_pair AS DOUBLE) / CAST(c_x * c_y AS DOUBLE) DESC, prev, tok
    LIMIT 100
    """,
    doc="Top-100 bigram collocations by PMI (operators/textstats.py:"
    "pmi_collocations) — the phrase-mining pass that finds multi-word "
    "lexical units worth single tokens. PMI is never a float: the "
    "output carries exact BIGINT pmi_num = N*c(x,y) and pmi_den = "
    "c(x)*c(y); ranking divides the two exact integers once (IEEE "
    "division is correctly rounded, so both engines compute the "
    "identical double and the identical top-k row set; ln is monotone "
    "so ratio order IS PMI order). min_count=3 prunes the pair tail "
    "BEFORE the dictionary joins; the global N attaches as a 1-row "
    "broadcast; top-k is a TakeOrdered, no full sort.",
    tags=("llm", "text"),
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.pmi_collocations(_docs(spark, sf_dir), k=100)


@query(
    "corpus_zipf_fit",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
    freq AS (SELECT term, count(*) AS freq FROM toks WHERE term <> '' GROUP BY term),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
      FROM freq ORDER BY freq DESC, term LIMIT 200
    ),
    q AS (
      SELECT CAST(floor(ln(rank) * 100000) AS BIGINT) AS x,
             CAST(floor(ln(freq) * 100000) AS BIGINT) AS y
      FROM ranked
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
           CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS slope_den,
           CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
    FROM q
    """,
    doc="Zipf's-law fit over the top-200 terms (operators/textstats.py:"
    "zipf_fit): OLS slope of ln(freq) vs ln(rank), the one-number "
    "corpus health check (natural text ~ -1; templated corpora "
    "flatten). linear_trend_exact pattern: each ln is quantized ONCE "
    "to fixed-point 1e-5 nats, then the slope comes out as an exact "
    "integer numerator/denominator (the intercept's closed form would "
    "overflow BIGINT, so the exact sums ride along and intercept = "
    "(sum_y - slope*sum_x)/n is one driver-side division) — "
    "bit-reproducible under any partition order; the only cross-engine surface is the per-value "
    "floor, coarse enough that a last-ulp ln disagreement would need "
    "ln(k)*1e5 within ~1e-10 of an integer. One explode + one "
    "vocabulary-bounded count + TakeOrdered(200) + a 1-row aggregate.",
    tags=("llm", "text"),
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.zipf_fit(_docs(spark, sf_dir), top_n=200)


@query(
    "classifier_cohens_kappa",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN n_chars < 200 THEN 'short'
                  WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS a,
             CASE WHEN n_chars + 7 * (doc_id % 13) < 200 THEN 'short'
                  WHEN n_chars + 7 * (doc_id % 13) < 350 THEN 'mid'
                  ELSE 'long' END AS b
      FROM documents
    ),
    cells AS (SELECT a, b, count(*) AS c FROM labeled GROUP BY a, b),
    ra AS (SELECT a AS lbl, sum(c) AS row_n FROM cells GROUP BY a),
    rb AS (SELECT b AS lbl, sum(c) AS col_n FROM cells GROUP BY b),
    chance AS (SELECT CAST(sum(row_n * col_n) AS BIGINT) AS pe_num
               FROM ra JOIN rb USING (lbl)),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
            FROM cells)
    SELECT n, diag, pe_num,
           CAST(n * diag - pe_num AS BIGINT) AS kappa_num,
           CAST(n * n - pe_num AS BIGINT) AS kappa_den
    FROM tot CROSS JOIN chance
    """,
    doc="Cohen's kappa between two labelers (operators/profiling.py:"
    "cohens_kappa) — the chance-corrected agreement gate on LLM-judge "
    "or double-annotated labels (raw agreement overstates quality "
    "under skewed label distributions; kappa subtracts what chance "
    "buys). Raters here are two deterministic length-bucket labelers, "
    "the second systematically perturbed by doc_id so the confusion "
    "matrix is non-trivial. kappa = (N*diag - sum(row_i*col_i)) / "
    "(N^2 - sum(row_i*col_i)) reported as EXACT integer num/den "
    "(linear_trend_exact pattern). One |classes|^2-bounded cell "
    "aggregate; marginals derived from the cells, no second scan.",
    tags=("llm", "eval"),
)
def q_classifier_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import cohens_kappa

    d = _docs(spark, sf_dir)
    shifted = F.col("n_chars") + 7 * (F.col("doc_id") % 13)
    labeled = d.select(
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 350, "mid")
        .otherwise("long")
        .alias("a"),
        F.when(shifted < 200, "short").when(shifted < 350, "mid").otherwise("long").alias("b"),
    )
    return cohens_kappa(labeled, "a", "b")


@query(
    "doc_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(lower(text), i, 6) AS shingle
      FROM documents
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, length(text) - 5)) AS i)
      WHERE length(text) >= 6
    ),
    dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN dfc USING (shingle)
    GROUP BY doc_id
    """,
    doc="Per-document n-gram novelty (operators/dedup.py:"
    "shingle_novelty): fraction of a doc's distinct 6-grams appearing "
    "in NO other document, as exact integer ppm — 'how much of this "
    "doc is boilerplate the corpus already has', the data-mixing "
    "weight signal that needs no pair materialization. Corpus-level "
    "complement of dedup_shingle_containment's pairwise audit. The "
    "shingle relation is computed ONCE and checkpointed (blockmax "
    "single-pass pattern) feeding both the df count and the join "
    "back; cost is |postings| + |vocabulary|, never O(pairs).",
    tags=("llm", "dedup", "text"),
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.shingle_novelty(_docs(spark, sf_dir))


@query(
    "source_ablation_stats",
    oracle="""
    WITH per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_docs) AS nn, sum(chars) AS cc, sum(toks) AS tt FROM per_src)
    SELECT source, n_docs, chars, toks,
           CAST(nn - n_docs AS BIGINT) AS loo_docs,
           CAST(chars * (nn - n_docs) - n_docs * (cc - chars) AS BIGINT) AS chars_delta_num,
           CAST(n_docs * (nn - n_docs) AS BIGINT) AS delta_den,
           CAST(toks * (nn - n_docs) - n_docs * (tt - toks) AS BIGINT) AS toks_delta_num
    FROM per_src CROSS JOIN tot
    """,
    doc="Leave-one-source-out ablation table in ONE pass: for every "
    "source, how its mean doc length (chars, tokens) compares to the "
    "complement corpus — the data-valuation primitive behind 'what does "
    "dropping this feed do to the mixture'. The naive ablation reruns "
    "the pipeline k times over (N - n_i) docs each; here complement "
    "stats are pure arithmetic on the per-source aggregate plus one "
    "1-row broadcast of the global totals (LOO mean = (S - s_i) / "
    "(N - n_i)), so cost is one map-side-combinable aggregate whatever "
    "k is. Deltas are exact integer num/den (delta = s_i*(N-n_i) - "
    "n_i*(S-s_i) over n_i*(N-n_i)): sign says the source runs "
    "longer/shorter than the rest of the corpus, magnitude is exact.",
    tags=("llm", "sampling"),
)
def q_source_ablation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    per_src = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum(F.size(F.split(F.lower(F.col("text")), " "))).cast("long").alias("toks"),
    )
    tot = per_src.agg(
        F.sum("n_docs").alias("nn"), F.sum("chars").alias("cc"), F.sum("toks").alias("tt")
    )
    j = per_src.crossJoin(F.broadcast(tot))
    loo = F.col("nn") - F.col("n_docs")
    return j.select(
        "source",
        "n_docs",
        "chars",
        "toks",
        loo.cast("long").alias("loo_docs"),
        (F.col("chars") * loo - F.col("n_docs") * (F.col("cc") - F.col("chars")))
        .cast("long")
        .alias("chars_delta_num"),
        (F.col("n_docs") * loo).cast("long").alias("delta_den"),
        (F.col("toks") * loo - F.col("n_docs") * (F.col("tt") - F.col("toks")))
        .cast("long")
        .alias("toks_delta_num"),
    )



def _doc_pairs(docs: DataFrame) -> DataFrame:
    """Deterministic generation-eval pairing shared by BLEU / chrF /
    token-F1: even doc_id is the candidate, its successor the reference;
    pair_id = doc_id div 2. One place to change the pairing contract."""
    cand = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id div 2").alias("pair_id"),
        (F.col("doc_id") + 1).alias("ref_id"),
        F.col("text").alias("cand_text"),
    )
    ref = docs.select(F.col("doc_id").alias("ref_id"), F.col("text").alias("ref_text"))
    return cand.join(ref, "ref_id").select("pair_id", "cand_text", "ref_text")


def _dual_cosine_ranks(emb: DataFrame) -> DataFrame:
    """Per-anchor (vec_id < 8, the constant frame) dual ranking shared by
    the matryoshka eval and RBO: rank every candidate by full 64-dim
    cosine AND by the 16-dim-prefix cosine, both cosines from ONE scan
    (the prefix dot product is a slice of the same fold), both rounded
    to 4dp so ranks are engine-identical. Returns (qid, rn64, rn16)."""
    from pyspark.sql import Window

    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    e64 = F.col("embedding").cast("array<double>")
    q64 = F.col("qv").cast("array<double>")
    cos64 = F.round(sim.cosine_similarity(e64, q64), 4)
    cos16 = F.round(
        sim.cosine_similarity(F.slice(e64, 1, 16), F.slice(q64, 1, 16)), 4
    )
    scored = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos64.alias("cos64"), cos16.alias("cos16"))
    )
    w64 = Window.partitionBy("qid").orderBy(F.col("cos64").desc(), "vec_id")
    w16 = Window.partitionBy("qid").orderBy(F.col("cos16").desc(), "vec_id")
    return scored.select(
        "qid",
        F.row_number().over(w64).alias("rn64"),
        F.row_number().over(w16).alias("rn16"),
    )


_COS16_SQL = """
      list_aggregate(list_transform(generate_series(1, 16),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, 16),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, 16),
                     i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')))
"""


@query(
    "similarity_matryoshka_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND({_COSINE_SQL}, 4) AS cos64,
             ROUND({_COS16_SQL}, 4) AS cos16
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid,
             row_number() OVER (PARTITION BY qid ORDER BY cos64 DESC, vec_id) AS rn64,
             row_number() OVER (PARTITION BY qid ORDER BY cos16 DESC, vec_id) AS rn16
      FROM scored
    )
    SELECT qid,
           CAST(sum(CASE WHEN rn64 <= 10 AND rn16 <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS overlap_at_10,
           CAST((sum(CASE WHEN rn64 <= 10 AND rn16 <= 10 THEN 1 ELSE 0 END) * 1000)
                // (20 - sum(CASE WHEN rn64 <= 10 AND rn16 <= 10 THEN 1 ELSE 0 END))
                AS BIGINT) AS jaccard_permille
    FROM ranked GROUP BY qid
    """,
    doc="Matryoshka truncation eval: per anchor (the constant vec_id<8 "
    "frame), the top-10 overlap between exact cosine rankings at the "
    "FULL 64 dims and the 16-dim PREFIX — the number that tells you "
    "whether MRL-style truncated embeddings can serve the cheap tier "
    "of a two-stage retrieval stack (4x memory/compute cut, measured "
    "recall cost) before you deploy them. One corpus scan computes "
    "both cosines per candidate (the prefix dot product is a slice of "
    "the same fold), two per-anchor rank windows on the SAME rows — "
    "no self-join, no second pass; both cosines rounded to 4dp so "
    "ranks are engine-identical. Output: overlap@10 and its exact "
    "integer Jaccard permille per anchor.",
    tags=("llm", "similarity", "eval"),
)
def q_similarity_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _dual_cosine_ranks(load_table(spark, sf_dir, "embeddings"))
    ov = F.sum(((F.col("rn64") <= 10) & (F.col("rn16") <= 10)).cast("long"))
    return ranked.groupBy("qid").agg(
        ov.cast("long").alias("overlap_at_10"),
        F.expr(
            "CAST((sum(CASE WHEN rn64 <= 10 AND rn16 <= 10 THEN 1 ELSE 0 END) * 1000)"
            " DIV (20 - sum(CASE WHEN rn64 <= 10 AND rn16 <= 10 THEN 1 ELSE 0 END)) AS BIGINT)"
        ).alias("jaccard_permille"),
    )


@query(
    "eval_bleu_ngram_precision",
    oracle="""
    WITH pairs AS (
      SELECT c.doc_id // 2 AS pid, c.text AS cand, r.text AS ref
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0
    ),
    sides AS (
      SELECT pid, 'c' AS side, cand AS txt FROM pairs
      UNION ALL
      SELECT pid, 'r' AS side, ref AS txt FROM pairs
    ),
    raw AS (
      SELECT pid, side,
             generate_subscripts(l, 1) AS pos, unnest(l) AS tok
      FROM (SELECT pid, side,
                   regexp_split_to_array(lower(txt), '[^a-z0-9]+') AS l
            FROM sides)
    ),
    toks AS (SELECT pid, side, pos, tok FROM raw WHERE tok <> ''),
    seq AS (
      SELECT pid, side, tok,
             lead(tok) OVER (PARTITION BY pid, side ORDER BY pos) AS nxt
      FROM toks
    ),
    grams AS (
      SELECT pid, side, 1 AS n, tok AS gram FROM seq
      UNION ALL
      SELECT pid, side, 2 AS n, tok || ' ' || nxt AS gram FROM seq WHERE nxt IS NOT NULL
    ),
    counts AS (
      SELECT pid, side, n, gram, count(*) AS cnt
      FROM grams GROUP BY pid, side, n, gram
    ),
    clipped AS (
      SELECT c.n, c.cnt AS tot,
             least(c.cnt, coalesce(r.cnt, 0)) AS clip
      FROM (SELECT * FROM counts WHERE side = 'c') c
      LEFT JOIN (SELECT * FROM counts WHERE side = 'r') r
        ON c.pid = r.pid AND c.n = r.n AND c.gram = r.gram
    ),
    per_n AS (
      SELECT n, CAST(sum(tot) AS BIGINT) AS tot, CAST(sum(clip) AS BIGINT) AS clip
      FROM clipped GROUP BY n
    ),
    lens AS (
      SELECT CAST(sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS cand_len,
             CAST(sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS ref_len
      FROM toks
    ),
    wide AS (
      SELECT coalesce(max(CASE WHEN n = 1 THEN clip END), 0) AS clip1,
             coalesce(max(CASE WHEN n = 1 THEN tot END), 0) AS tot1,
             coalesce(max(CASE WHEN n = 2 THEN clip END), 0) AS clip2,
             coalesce(max(CASE WHEN n = 2 THEN tot END), 0) AS tot2
      FROM per_n
    ),
    x AS (
      SELECT *,
             CAST(clip1 AS DOUBLE) / CAST(tot1 AS DOUBLE) AS p1,
             CAST(clip2 AS DOUBLE) / CAST(tot2 AS DOUBLE) AS p2,
             CASE WHEN cand_len >= ref_len THEN 1.0
                  ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / CAST(cand_len AS DOUBLE)) END AS bp
      FROM wide CROSS JOIN lens
    )
    SELECT clip1, tot1, clip2, tot2, cand_len, ref_len,
           CAST(round(1000000.0 * p1) AS BIGINT) AS p1_micros,
           CAST(round(1000000.0 * p2) AS BIGINT) AS p2_micros,
           CAST(round(1000000.0 * bp) AS BIGINT) AS bp_micros,
           CAST(CASE WHEN clip1 > 0 AND clip2 > 0
                     THEN round(1000000.0 * bp * exp((ln(p1) + ln(p2)) / 2))
                     ELSE 0 END AS BIGINT) AS bleu2_micros
    FROM x
    """,
    doc="Corpus BLEU-2 over a deterministic candidate/reference pairing "
    "of the documents table — even doc_id as candidate, its successor "
    "as reference (operators/textstats.py:bleu_ngram_precision). The "
    "generation-eval counterpart of retrieval_eval_ndcg: clipped "
    "unigram/bigram precision, brevity penalty, geometric mean. All "
    "counts are exact integers from grouped aggregation (ONE corpus "
    "scan explodes both sides; the clip join runs on pre-collapsed "
    "distinct-n-gram counts, never the token stream); the four floats "
    "are closed-form over those integers, log-guarded at zero overlap "
    "(engines disagree on log(0)) and quantized to micros.",
    tags=("llm", "eval", "text"),
)
def q_eval_bleu_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = _doc_pairs(docs)
    return ts.bleu_ngram_precision(pairs)


@query(
    "embedding_dim_stats",
    oracle="""
    WITH vals AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(round(1000000.0 * CAST(unnest(embedding) AS DOUBLE)) AS BIGINT) AS q
      FROM embeddings
    ),
    per_dim AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sum_micros,
             CAST(sum(q * q) AS BIGINT) AS sumsq_micros2
      FROM vals GROUP BY dim
    ),
    stats AS (
      SELECT dim, n, sum_micros, sumsq_micros2,
             CAST(round(CAST(sum_micros AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_micros,
             CAST(round((CAST(sumsq_micros2 AS DOUBLE)
                         - CAST(sum_micros AS DOUBLE) * CAST(sum_micros AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        / (CAST(n AS DOUBLE) - 1)) AS BIGINT) AS var_micros2
      FROM per_dim
    )
    SELECT dim, n, sum_micros, sumsq_micros2, mean_micros, var_micros2,
           CAST(row_number() OVER (ORDER BY var_micros2 DESC, dim ASC) AS BIGINT) AS var_rank
    FROM stats
    """,
    doc="Per-dimension moment profile of the embedding table "
    "(operators/similarity.py:dimension_stats): micro-quantized exact "
    "integer moments, mean, sample variance, and variance rank per "
    "dimension — the feature-health check before PCA/whitening or "
    "matryoshka truncation (dead dims have ~0 variance; dominant dims "
    "distort cosine). posexplode is a flat-map; the per-dim aggregate "
    "map-side combines to |dims| rows and the rank window sorts only "
    "that 64-row frame.",
    tags=("llm", "embedding", "analytics"),
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.dimension_stats(load_table(spark, sf_dir, "embeddings"))


@query(
    "text_rake_keywords",
    oracle="""
    WITH raw AS (
      SELECT doc_id AS doc, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(text), '[^a-z0-9]+') AS l
            FROM documents)
    ),
    nz AS (
      SELECT doc, pos, tok,
             tok IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it') AS is_stop
      FROM raw WHERE tok <> ''
    ),
    segd AS (
      SELECT doc, pos, tok, is_stop,
             sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY pos) AS seg
      FROM nz
    ),
    words AS (SELECT doc, pos, tok, seg FROM segd WHERE NOT is_stop),
    plen AS (SELECT doc, seg, count(*) AS plen FROM words GROUP BY doc, seg),
    ratios AS (
      SELECT w.tok,
             CAST(round(1000000.0 * CAST(sum(p.plen) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE)) AS BIGINT) AS ratio_micros
      FROM words w JOIN plen p ON w.doc = p.doc AND w.seg = p.seg
      GROUP BY w.tok
    ),
    scored AS (
      SELECT w.doc, w.seg,
             string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(r.ratio_micros) AS BIGINT) AS score_micros
      FROM words w JOIN ratios r ON w.tok = r.tok
      GROUP BY w.doc, w.seg
    )
    SELECT phrase, n_words, n_occurrences, score_micros FROM (
      SELECT phrase, n_words, score_micros,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM scored GROUP BY phrase, n_words, score_micros)
    ORDER BY score_micros DESC, phrase ASC LIMIT 20
    """,
    doc="RAKE keyword extraction over the documents table "
    "(operators/textstats.py:rake_keywords): stopword-delimited "
    "candidate phrases scored by sum of member words' deg/freq — the "
    "unsupervised keyphrase baseline for corpus triage beside PMI "
    "collocations (which ranks adjacent PAIRS; RAKE ranks variable-"
    "length phrases). Word ratios are one correctly-rounded division "
    "each, quantized to micros, so phrase scores are exact integer "
    "sums; the (score, phrase) ranking key is unique per distinct "
    "phrase, making the top-20 boundary engine-identical. One corpus "
    "scan, per-doc segment window, word-keyed stat joins, TakeOrdered "
    "top-k — never a pair join or global sort.",
    tags=("llm", "text", "eval"),
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.rake_keywords(_docs(spark, sf_dir), k=20)


# RBO tail weights: W[m] = sum_{d=m..10} (1-p) p^(d-1) / d at p=0.9,
# quantized to micros. An item first entering BOTH prefixes at depth
# m = max(rank_a, rank_b) contributes exactly W[m] to truncated RBO, so
# the whole metric is an integer sum of these ten constants — the same
# constants are inlined into the oracle, making the comparison exact.
_RBO_W_MICROS = (235416, 135416, 90416, 63416, 45191, 32069, 22228, 14636, 8657, 3874)

_RBO_CASES = "\n                ".join(
    f"WHEN {m} THEN {w}" for m, w in enumerate(_RBO_W_MICROS, start=1)
)


@query(
    "retrieval_rbo_rankings",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND({_COSINE_SQL}, 4) AS cos64,
             ROUND({_COS16_SQL}, 4) AS cos16
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid,
             row_number() OVER (PARTITION BY qid ORDER BY cos64 DESC, vec_id) AS rn64,
             row_number() OVER (PARTITION BY qid ORDER BY cos16 DESC, vec_id) AS rn16
      FROM scored
    ),
    joint AS (
      SELECT qid, greatest(rn64, rn16) AS m
      FROM ranked WHERE rn64 <= 10 AND rn16 <= 10
    )
    SELECT r.qid,
           CAST(coalesce(count(j.m), 0) AS BIGINT) AS n_joint,
           CAST(coalesce(sum(CASE j.m
                {_RBO_CASES}
                END), 0) AS BIGINT) AS rbo_trunc_micros
    FROM (SELECT DISTINCT qid FROM ranked) r
    LEFT JOIN joint j ON r.qid = j.qid
    GROUP BY r.qid
    """,
    doc="Rank-biased overlap (Webber et al. 2010), truncated at depth 10 "
    "with p=0.9, between the full 64-dim and 16-dim-prefix cosine "
    "rankings per constant anchor — the principled top-weighted upgrade "
    "of similarity_matryoshka_eval's flat overlap@10 (a disagreement at "
    "rank 1 costs ~60x one at rank 10). The key identity: an item "
    "first inside BOTH prefixes at depth m = max(rank_a, rank_b) "
    "contributes the constant tail weight W[m] = sum_{d>=m} (1-p)p^(d-1)/d, "
    "so truncated RBO is an exact integer sum of ten pre-quantized "
    "micro-constants shared verbatim with the oracle — no float "
    "accumulation at all. Same single-scan two-window plan as the "
    "matryoshka eval: both cosines from one fold, no self-join.",
    tags=("llm", "similarity", "eval"),
)
def q_retrieval_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _dual_cosine_ranks(load_table(spark, sf_dir, "embeddings"))
    m = F.greatest("rn64", "rn16")
    in_joint = (F.col("rn64") <= 10) & (F.col("rn16") <= 10)
    weight = None
    for depth, wm in enumerate(_RBO_W_MICROS, start=1):
        weight = F.when(m == depth, wm) if weight is None else weight.when(m == depth, wm)
    return ranked.groupBy("qid").agg(
        F.sum(in_joint.cast("long")).cast("bigint").alias("n_joint"),
        F.coalesce(F.sum(F.when(in_joint, weight)), F.lit(0))
        .cast("bigint")
        .alias("rbo_trunc_micros"),
    )


@query(
    "source_lang_diversity",
    oracle="""
    WITH cells AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, lang
    ),
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(sum(CAST(round(1000000.0 * CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                           AS BIGINT)) AS BIGINT) AS s_micros
      FROM cells GROUP BY source
    )
    SELECT source, n_docs, n_langs,
           CAST(round(1000000.0 * ln(CAST(n_docs AS DOUBLE))
                      - CAST(s_micros AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS BIGINT)
             AS entropy_micronats,
           CAST(round(1000.0 * exp(ln(CAST(n_docs AS DOUBLE))
                 - (CAST(s_micros AS DOUBLE) / 1000000.0) / CAST(n_docs AS DOUBLE)))
                AS BIGINT) AS effective_langs_milli
    FROM per
    """,
    doc="Shannon language diversity per source: H = ln(N) - sum(c*ln c)/N "
    "over the (source, lang) composition, plus exp(H) as the 'effective "
    "number of languages' — the mixing-health check beside "
    "source_ablation_stats (a source whose effective-language count "
    "collapses is a monoculture shard; one that spikes needs per-lang "
    "temperature reweighting). Each c*ln(c) term is ONE correctly-"
    "rounded op on an exact integer count, quantized to micros BEFORE "
    "summing, so the per-source sums are order-free BIGINTs and both "
    "engines derive H from identical integers; composition cells "
    "collapse map-side (|sources| x |langs| rows total).",
    tags=("llm", "analytics", "text"),
)
def q_source_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import composition_entropy

    return composition_entropy(_docs(spark, sf_dir), "source", "lang").select(
        "source",
        F.col("n_rows").alias("n_docs"),
        F.col("n_classes").alias("n_langs"),
        "entropy_micronats",
        F.col("effective_classes_milli").alias("effective_langs_milli"),
    )


@query(
    "classifier_mcc",
    oracle="""
    WITH lbl AS (
      SELECT (n_chars >= 300) AS actual,
             (n_chars + 7 * (doc_id % 13) >= 300) AS pred
      FROM documents
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN actual AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN NOT actual AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN NOT actual AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN actual AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM lbl
    )
    SELECT tp, tn, fp, fn,
           CAST(round(1000000.0 * (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                                   - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                 / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                        * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                        * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                        * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))) AS BIGINT) AS mcc_micros
    FROM s
    """,
    doc="Matthews correlation coefficient of the noisy length classifier "
    "(operators/profiling.py:mcc_binary) — the class-imbalance-honest "
    "single-number summary completing the eval suite beside Cohen's "
    "kappa (same labeling scheme, chance-corrected agreement), ranking "
    "AUC, and calibration bins. One conditional-aggregation scan "
    "produces the four confusion counts as exact BIGINTs; MCC is one "
    "closed-form float over them, try_divide-guarded against zero "
    "marginals.",
    tags=("llm", "eval"),
)
def q_classifier_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import mcc_binary

    d = _docs(spark, sf_dir)
    lbl = d.select(
        (F.col("n_chars") >= 300).alias("actual"),
        (F.col("n_chars") + 7 * (F.col("doc_id") % 13) >= 300).alias("pred"),
    )
    return mcc_binary(lbl, "actual", "pred")


@query(
    "eval_chrf_char_ngram",
    oracle="""
    WITH pairs AS (
      SELECT c.doc_id // 2 AS pid, c.text AS cand, r.text AS ref
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0
    ),
    sides AS (
      SELECT pid, 'c' AS side, regexp_replace(lower(cand), '\\s+', '', 'g') AS s FROM pairs
      UNION ALL
      SELECT pid, 'r' AS side, regexp_replace(lower(ref), '\\s+', '', 'g') AS s FROM pairs
    ),
    grams AS (
      SELECT pid, side, n, substr(s, i, n) AS gram
      FROM sides
      CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS n)
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, greatest(length(s) - n + 1, 0))) AS i)
    ),
    counts AS (
      SELECT pid, side, n, gram, count(*) AS cnt
      FROM grams GROUP BY pid, side, n, gram
    ),
    joined AS (
      SELECT coalesce(c.pid, r.pid) AS pid, coalesce(c.n, r.n) AS n,
             coalesce(c.cnt, 0) AS c_cnt, coalesce(r.cnt, 0) AS r_cnt
      FROM (SELECT * FROM counts WHERE side = 'c') c
      FULL JOIN (SELECT * FROM counts WHERE side = 'r') r
        ON c.pid = r.pid AND c.n = r.n AND c.gram = r.gram
    ),
    agg AS (
      SELECT n,
             CAST(sum(least(c_cnt, r_cnt)) AS BIGINT) AS clip,
             CAST(sum(c_cnt) AS BIGINT) AS cand_total,
             CAST(sum(r_cnt) AS BIGINT) AS ref_total
      FROM joined GROUP BY n
    ),
    scored AS (
      SELECT n, clip, cand_total, ref_total,
             CASE WHEN clip = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(round(1000000.0 *
                        (5.0 * (CAST(clip AS DOUBLE) / CAST(cand_total AS DOUBLE))
                             * (CAST(clip AS DOUBLE) / CAST(ref_total AS DOUBLE)))
                        / (4.0 * (CAST(clip AS DOUBLE) / CAST(cand_total AS DOUBLE))
                           + (CAST(clip AS DOUBLE) / CAST(ref_total AS DOUBLE))))
                       AS BIGINT) END AS f_micros
      FROM agg
    ),
    wide AS (
      SELECT coalesce(max(CASE WHEN n = 1 THEN clip END), 0) AS clip_1,
             coalesce(max(CASE WHEN n = 1 THEN cand_total END), 0) AS cand_total_1,
             coalesce(max(CASE WHEN n = 1 THEN ref_total END), 0) AS ref_total_1,
             coalesce(max(CASE WHEN n = 1 THEN f_micros END), 0) AS f_micros_1,
             coalesce(max(CASE WHEN n = 2 THEN clip END), 0) AS clip_2,
             coalesce(max(CASE WHEN n = 2 THEN cand_total END), 0) AS cand_total_2,
             coalesce(max(CASE WHEN n = 2 THEN ref_total END), 0) AS ref_total_2,
             coalesce(max(CASE WHEN n = 2 THEN f_micros END), 0) AS f_micros_2,
             coalesce(max(CASE WHEN n = 3 THEN clip END), 0) AS clip_3,
             coalesce(max(CASE WHEN n = 3 THEN cand_total END), 0) AS cand_total_3,
             coalesce(max(CASE WHEN n = 3 THEN ref_total END), 0) AS ref_total_3,
             coalesce(max(CASE WHEN n = 3 THEN f_micros END), 0) AS f_micros_3
      FROM scored
    )
    SELECT CAST(clip_1 AS BIGINT) AS clip_1, CAST(cand_total_1 AS BIGINT) AS cand_total_1,
           CAST(ref_total_1 AS BIGINT) AS ref_total_1, CAST(f_micros_1 AS BIGINT) AS f_micros_1,
           CAST(clip_2 AS BIGINT) AS clip_2, CAST(cand_total_2 AS BIGINT) AS cand_total_2,
           CAST(ref_total_2 AS BIGINT) AS ref_total_2, CAST(f_micros_2 AS BIGINT) AS f_micros_2,
           CAST(clip_3 AS BIGINT) AS clip_3, CAST(cand_total_3 AS BIGINT) AS cand_total_3,
           CAST(ref_total_3 AS BIGINT) AS ref_total_3, CAST(f_micros_3 AS BIGINT) AS f_micros_3,
           CAST(round((CAST(f_micros_1 AS DOUBLE) + CAST(f_micros_2 AS DOUBLE)
                       + CAST(f_micros_3 AS DOUBLE)) / 3.0) AS BIGINT) AS chrf_micros
    FROM wide
    """,
    doc="Corpus chrF-2 (character 1/2/3-gram F-beta, Popovic 2015) over "
    "the same deterministic doc pairing as eval_bleu_ngram_precision "
    "(operators/textstats.py:chrf_score) — the generation-eval metric "
    "that credits partial word matches (morphology, typos) BLEU scores "
    "as total misses; together they are the standard MT eval pair. "
    "Whitespace stripped per the chrF convention; per-order counts are "
    "exact integers, per-order F quantized to micros, and the final "
    "chrF is integer arithmetic over those quantized scores. One scan "
    "explodes both sides (substring transform = flat-map, no shuffle); "
    "the clip join runs on pre-collapsed per-pair n-gram counts.",
    tags=("llm", "eval", "text"),
)
def q_eval_chrf_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = _doc_pairs(docs)
    return ts.chrf_score(pairs)


@query(
    "similarity_int8_distortion",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
    ),
    stats AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM (
        SELECT unnest(generate_series(1, len(v))) AS pos, unnest(v) AS val FROM e
      ) GROUP BY pos
    ),
    mm AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats),
    per_vec AS (
      SELECT label,
             CAST(list_sum([
               CASE WHEN mxs[i] > mns[i]
                    THEN CAST(round(1e12
                          * (v[i] - (mns[i]
                             + (CAST(least(CAST(floor((v[i] - mns[i]) * 254.0 / (mxs[i] - mns[i])) AS BIGINT), 254) AS DOUBLE) + 0.5)
                               * (mxs[i] - mns[i]) / 254.0))
                          * (v[i] - (mns[i]
                             + (CAST(least(CAST(floor((v[i] - mns[i]) * 254.0 / (mxs[i] - mns[i])) AS BIGINT), 254) AS DOUBLE) + 0.5)
                               * (mxs[i] - mns[i]) / 254.0))) AS BIGINT)
                    ELSE 0 END
               FOR i IN generate_series(1, len(v))]) AS BIGINT) AS err_pico
      FROM e CROSS JOIN mm
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(err_pico) AS BIGINT) AS total_err_pico,
           CAST(round(CAST(sum(err_pico) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT)
             AS mean_err_pico
    FROM per_vec GROUP BY label
    """,
    doc="Reconstruction-error audit of the int8 scalar quantizer "
    "(operators/similarity.py:int8_distortion): midpoint-dequantize "
    "every code and report per-label squared error quantized at 1e12 "
    "per component — the compression-QA gate before trusting the 4x "
    "int8 scan path (similarity_int8_scan) on a corpus slice, closing "
    "the quantization ladder (int8 / PQ / binary) with a measured "
    "distortion number. ONE scan: the (mins, maxs) fold is the same "
    "broadcast row the quantizer uses; quantize + reconstruct + "
    "per-component error all run in a single JVM transform/aggregate, "
    "and the error is written e*e (not pow) so the oracle's identical "
    "expression chain is bit-exact.",
    tags=("llm", "similarity", "eval"),
)
def q_similarity_int8_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.int8_distortion(load_table(spark, sf_dir, "embeddings"))


@query(
    "eval_token_f1_pairs",
    oracle="""
    WITH pairs AS (
      SELECT c.doc_id // 2 AS pid, c.text AS cand, r.text AS ref
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0
    ),
    sides AS (
      SELECT pid, 'c' AS side, cand AS txt FROM pairs
      UNION ALL
      SELECT pid, 'r' AS side, ref AS txt FROM pairs
    ),
    toks AS (
      SELECT pid, side, tok FROM (
        SELECT pid, side, unnest(regexp_split_to_array(lower(txt), '[^a-z0-9]+')) AS tok
        FROM sides
      ) WHERE tok <> ''
    ),
    counts AS (
      SELECT pid, side, tok, count(*) AS cnt FROM toks GROUP BY pid, side, tok
    ),
    clipped AS (
      SELECT coalesce(c.pid, r.pid) AS pid,
             sum(least(coalesce(c.cnt, 0), coalesce(r.cnt, 0))) AS clip,
             sum(coalesce(c.cnt, 0)) AS cand_len,
             sum(coalesce(r.cnt, 0)) AS ref_len
      FROM (SELECT * FROM counts WHERE side = 'c') c
      FULL JOIN (SELECT * FROM counts WHERE side = 'r') r
        ON c.pid = r.pid AND c.tok = r.tok
      GROUP BY coalesce(c.pid, r.pid)
    )
    SELECT CAST(p.pid AS BIGINT) AS pair_id,
           CAST(coalesce(clip, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(cand_len, 0) AS BIGINT) AS cand_len,
           CAST(coalesce(ref_len, 0) AS BIGINT) AS ref_len,
           CAST(CASE WHEN coalesce(clip, 0) = 0 THEN 0
                     ELSE round(1000000.0 * (2.0
                           * (CAST(clip AS DOUBLE) / CAST(cand_len AS DOUBLE))
                           * (CAST(clip AS DOUBLE) / CAST(ref_len AS DOUBLE)))
                          / ((CAST(clip AS DOUBLE) / CAST(cand_len AS DOUBLE))
                             + (CAST(clip AS DOUBLE) / CAST(ref_len AS DOUBLE))))
                END AS BIGINT) AS f1_micros
    FROM (SELECT DISTINCT pid FROM pairs) p LEFT JOIN clipped USING (pid)
    """,
    doc="Per-pair token-level F1 (the SQuAD/QA-eval answer-overlap "
    "metric) over the same deterministic doc pairing as BLEU/chrF "
    "(operators/textstats.py:token_f1_pairs): bag-of-token clipped "
    "overlap per PAIR with per-pair precision/recall/F1 — the "
    "granularity BLEU's corpus-level aggregation hides, which is what "
    "an eval pipeline joins back onto example metadata to find "
    "failure slices. Counts are exact integers; F1 is one guarded "
    "float per pair quantized to micros; the clip join runs on "
    "pre-collapsed per-pair token counts (full-outer so ref-only "
    "tokens count toward recall's denominator).",
    tags=("llm", "eval", "text"),
)
def q_eval_token_f1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = _doc_pairs(docs)
    return ts.token_f1_pairs(pairs)


@query(
    "dedup_cluster_provenance",
    oracle=f"""
    {_MINHASH_COLLAPSED_CTES},
    assign AS (SELECT grp.doc_id, cl.cluster FROM grp JOIN cl ON grp.rep = cl.v),
    src AS (
      SELECT a.cluster, d.source
      FROM assign a JOIN documents d
        ON d.doc_id = CASE WHEN a.doc_id >= 1000000 THEN a.doc_id - 1000000
                           ELSE a.doc_id END
    ),
    cells AS (SELECT cluster, source, count(*) AS n FROM src GROUP BY cluster, source),
    per_cluster AS (
      SELECT cluster, sum(n) AS sz, count(*) AS n_sources, max(n) AS maj
      FROM cells GROUP BY cluster
    ),
    multi AS (SELECT * FROM per_cluster WHERE sz >= 2)
    SELECT CAST((SELECT count(*) FROM per_cluster) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_multi_clusters,
           CAST(sum(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source_clusters,
           CAST(sum(sz) AS BIGINT) AS n_multi_docs,
           CAST(sum(maj) AS BIGINT) AS n_majority_source_docs,
           CAST((sum(maj) * 1000000) // sum(sz) AS BIGINT) AS source_purity_ppm
    FROM multi
    """,
    doc="Provenance audit of the near-dup collapse, wired to the 100 TB "
    "path (round-6 verdict item 2): cluster assignments come from "
    "minhash_cluster_collapsed — exact-collapse on md5(text) BEFORE any "
    "pair generation, LSH among unique texts only, bucket-bipartite "
    "min-label clustering, O(N) (doc, cluster) output — never the raw "
    "quadratic pair list the previous wiring used (a measured sf1 run "
    "of that contract was killed after 45+ min; this one is linear in "
    "the duplication factor). The audit itself: over multi-document "
    "clusters only (singletons are trivially pure), report how many "
    "near-dup families span 2+ sources and the majority-source "
    "fraction of their docs (exact integer ppm) — the number a "
    "pipeline acts on when deciding intra- vs cross-source dedup "
    "policy, since cross-source families are syndicated/boilerplate "
    "content that provenance-weighted sampling would double-count. "
    "Injected exact copies (doc_id+1000000) inherit their original's "
    "source through the id-mapping join, exercising the collapse path "
    "end-to-end. The rollup is two map-side-combinable aggregates over "
    "|clusters| x |sources| cells plus a 1-row cluster-count attach.",
    tags=("llm", "dedup", "eval", "scale"),
)
def q_dedup_cluster_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dupes(spark, sf_dir)
    assign = dd.minhash_cluster_collapsed(docs).select("doc_id", "cluster")
    base_id = F.when(
        F.col("doc_id") >= 1000000, F.col("doc_id") - 1000000
    ).otherwise(F.col("doc_id"))
    src = assign.withColumn("doc_id", base_id).join(
        _docs(spark, sf_dir).select("doc_id", "source"), "doc_id"
    )
    cells = src.groupBy("cluster", "source").agg(F.count("*").alias("n"))
    per_cluster = cells.groupBy("cluster").agg(
        F.sum("n").alias("sz"), F.count("*").alias("n_sources"), F.max("n").alias("maj")
    )
    n_clusters = per_cluster.agg(F.count("*").cast("bigint").alias("n_clusters"))
    multi = per_cluster.filter(F.col("sz") >= 2)
    return (
        multi.agg(
            F.count("*").cast("bigint").alias("n_multi_clusters"),
            F.sum((F.col("n_sources") >= 2).cast("long"))
            .cast("bigint")
            .alias("n_cross_source_clusters"),
            F.sum("sz").cast("bigint").alias("n_multi_docs"),
            F.sum("maj").cast("bigint").alias("n_majority_source_docs"),
        )
        .crossJoin(F.broadcast(n_clusters))
        .select(
            "n_clusters",
            "n_multi_clusters",
            "n_cross_source_clusters",
            "n_multi_docs",
            "n_majority_source_docs",
            F.expr(
                "CAST((n_majority_source_docs * 1000000) DIV n_multi_docs AS BIGINT)"
            ).alias("source_purity_ppm"),
        )
    )


@query(
    "text_query_likelihood_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
    c AS (SELECT count(*) AS ctot FROM toks),
    cf AS (SELECT tok, count(*) AS cfreq FROM toks
           WHERE tok IN ('spark', 'vector', 'window') GROUP BY tok),
    qt AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN ('spark', 'vector', 'window') GROUP BY doc_id, tok),
    t1 AS (
      SELECT qt.doc_id,
             sum(CAST(round(ln((2000.0 * cf.cfreq + CAST(qt.tf AS DOUBLE) * c.ctot)
                              / (2000.0 * cf.cfreq)) * 1000000) AS BIGINT)) AS s1
      FROM qt JOIN cf USING (tok) CROSS JOIN c GROUP BY qt.doc_id
    ),
    base AS (
      SELECT dl.doc_id,
             3 * CAST(round(ln(2000.0 / (dl.dlen + 2000.0)) * 1000000) AS BIGINT) AS s0
      FROM dl
    )
    SELECT b.doc_id, CAST(b.s0 + coalesce(t1.s1, 0) AS BIGINT) AS ql_micro
    FROM base b LEFT JOIN t1 ON t1.doc_id = b.doc_id
    ORDER BY ql_micro DESC, b.doc_id ASC LIMIT 20
    """,
    doc="Dirichlet-smoothed query-likelihood retrieval (mu=2000) for the "
    "same 3-term query as text_bm25_topk — the language-modeling "
    "ranking baseline (Zhai/Lafferty) beside BM25's probabilistic one; "
    "having both lets a retrieval pipeline A/B its sparse leg. Uses the "
    "rank-equivalent decomposition score = sum_t ln(1 + tf*C/(mu*cf)) + "
    "|q|*ln(mu/(dl+mu)), so EVERY document scores (the length "
    "normalizer applies even at zero matches) without enumerating "
    "zero-tf pairs: the matched-term sum lives on the sparse (doc, "
    "qterm) relation and the normalizer on the doc-length frame. Each "
    "log is one correctly-rounded op on a ratio of exact integers "
    "(mu*cf + tf*C over mu*cf), quantized to micronats BEFORE the "
    "per-doc sum — no float accumulation order. Plan: tokenize once "
    "(compact-row repartition before the explode, as bm25), corpus "
    "total and per-term corpus frequencies are bounded broadcasts, "
    "top-20 under a (score, doc_id) total order.",
    tags=("llm", "text", "similarity"),
)
def q_text_query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ("spark", "vector", "window")
    mu = 2000.0
    docs = _docs(spark, sf_dir)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    c = toks.agg(F.count("*").alias("ctot"))
    qtoks = toks.filter(F.col("tok").isin(*terms))
    cf = qtoks.groupBy("tok").agg(F.count("*").alias("cfreq"))
    qt = qtoks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    t1_term = F.round(
        F.log(
            (F.lit(mu) * F.col("cfreq") + F.col("tf").cast("double") * F.col("ctot"))
            / (F.lit(mu) * F.col("cfreq"))
        )
        * 1e6
    ).cast("bigint")
    t1 = (
        qt.join(F.broadcast(cf), "tok")
        .crossJoin(F.broadcast(c))
        .groupBy("doc_id")
        .agg(F.sum(t1_term).alias("s1"))
    )
    s0 = (
        F.lit(3)
        * F.round(F.log(F.lit(mu) / (F.col("dlen") + F.lit(mu))) * 1e6).cast("bigint")
    )
    return (
        dl.select("doc_id", s0.alias("s0"))
        .join(t1, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("s0") + F.coalesce(F.col("s1"), F.lit(0)))
            .cast("bigint")
            .alias("ql_micro"),
        )
        .orderBy(F.col("ql_micro").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@query(
    "text_kn_bigram_logprob",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS tok
      FROM words CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    pairs AS (
      SELECT * FROM (
        SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
        FROM toks
      ) WHERE prev IS NOT NULL
    ),
    uni AS (SELECT prev, count(*) AS c1 FROM pairs GROUP BY prev),
    bi AS (SELECT prev, tok, count(*) AS c2 FROM pairs GROUP BY prev, tok),
    cont AS (SELECT prev, count(*) AS tp FROM bi GROUP BY prev),
    pred AS (SELECT tok, count(*) AS n1w FROM bi GROUP BY tok),
    nt AS (SELECT count(*) AS nt FROM bi),
    scored AS (
      SELECT doc_id,
             length(bin(CAST((4 * nt.nt * c1)
                 // ((4 * c2 - 3) * nt.nt + 3 * tp * n1w) AS BIGINT))) - 1 AS bits
      FROM pairs JOIN bi USING (prev, tok) JOIN uni USING (prev)
      JOIN cont USING (prev) JOIN pred USING (tok) CROSS JOIN nt
    )
    SELECT doc_id, count(*) AS n_bigrams, CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
    FROM scored GROUP BY doc_id
    """,
    doc="Interpolated Kneser-Ney bigram LM score with discount d=3/4 "
    "(operators/textstats.py:kn_bigram_surprisal) — the standard "
    "smoothed n-gram model real LM-quality filters use, upgrading "
    "text_bigram_logprob's raw conditional: KN's continuation "
    "probability scores a word by how many CONTEXTS it follows rather "
    "than raw frequency (the canonical fix for frequent-but-rigid "
    "tokens). With d=3/4 the observed-pair probability is the exact "
    "rational ((4*c2-3)*Nt + 3*T(p)*N1w) / (4*Nt*c1), so the charged "
    "bits stay pure bin()-length integer arithmetic — no float log; "
    "both engines reproduce bit-exactly. Two extra vocabulary-bounded "
    "dictionaries + a 1-row type-count broadcast over the raw bigram "
    "plan.",
    tags=("llm", "text"),
)
def q_text_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.kn_bigram_surprisal(_docs(spark, sf_dir))


@query(
    "text_stupid_backoff_trigram",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS tok
      FROM words CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    tri AS (
      SELECT * FROM (
        SELECT doc_id,
               lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
               tok AS w3
        FROM toks
      ) WHERE w1 IS NOT NULL
    ),
    train AS (SELECT * FROM tri WHERE doc_id % 2 = 0),
    held AS (SELECT * FROM tri WHERE doc_id % 2 <> 0),
    c_tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM train GROUP BY w1, w2, w3),
    c_ctx AS (SELECT w1, w2, count(*) AS cctx FROM train GROUP BY w1, w2),
    c_big AS (SELECT w2, w3, count(*) AS cb FROM train GROUP BY w2, w3),
    c_un2 AS (SELECT w2, count(*) AS cu2 FROM train GROUP BY w2),
    c_uni AS (SELECT w3, count(*) AS cw FROM train GROUP BY w3),
    n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM train),
    scored AS (
      SELECT held.doc_id,
        CASE
          WHEN c3 IS NOT NULL THEN length(bin(cctx // c3)) - 1
          WHEN cb IS NOT NULL THEN length(bin((5 * cu2) // (2 * cb))) - 1
          WHEN cw IS NOT NULL THEN length(bin((25 * n_train) // (4 * cw))) - 1
          ELSE length(bin((25 * n_train) // 4)) - 1
        END AS bits,
        CASE
          WHEN c3 IS NOT NULL THEN 'tri'
          WHEN cb IS NOT NULL THEN 'bi'
          WHEN cw IS NOT NULL THEN 'uni'
          ELSE 'oov'
        END AS lv
      FROM held
      LEFT JOIN c_tri USING (w1, w2, w3)
      LEFT JOIN c_ctx USING (w1, w2)
      LEFT JOIN c_big USING (w2, w3)
      LEFT JOIN c_un2 USING (w2)
      LEFT JOIN c_uni USING (w3)
      CROSS JOIN n_tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits,
           CAST(sum(CASE WHEN lv = 'tri' THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hit,
           CAST(sum(CASE WHEN lv = 'bi' THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_hit,
           CAST(sum(CASE WHEN lv = 'uni' THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_hit,
           CAST(sum(CASE WHEN lv = 'oov' THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM scored GROUP BY doc_id
    """,
    doc="Trigram stupid-backoff LM (Brants et al.'s web-scale smoothing, "
    "backoff factor 0.4 = 2/5) trained on the even-id half of the "
    "corpus and scored on the HELD-OUT half, so the backoff ladder "
    "actually fires (operators/textstats.py:stupid_backoff_trigram). "
    "Completes the n-gram LM family along the transfer axis: unigram/"
    "bigram/KN score docs under the whole corpus; this is the LM-eval "
    "split, and its per-level hit counts (tri/bi/uni/oov) are the "
    "coverage diagnostic a contamination audit reads. Integer-exact "
    "bits via bin()-length on exact rationals 5^j*den/(2^j*num) — no "
    "float log. Train collapses to four vocab-bounded dictionaries + a "
    "1-row total; scoring is four dictionary left-joins.",
    tags=("llm", "text", "scale"),
)
def q_text_stupid_backoff_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.stupid_backoff_trigram(_docs(spark, sf_dir))


_PC_ITER = "\n".join(
    f"""    raw{n} AS (
      SELECT p.j AS d, CAST(sum(v.v * p.g) AS BIGINT) AS raw
      FROM v{n - 1} v JOIN p ON v.d = p.i GROUP BY p.j
    ),
    m{n} AS (SELECT max(abs(raw)) AS mv FROM raw{n}),
    v{n} AS (
      SELECT d,
             CAST(CASE WHEN mv = 0 THEN 0
                  ELSE round(1000000.0 * (CAST(raw AS DOUBLE) / CAST(mv AS DOUBLE)))
                  END AS BIGINT) AS v
      FROM raw{n}, m{n}
    ),"""
    for n in range(1, 9)
)


@query(
    "embedding_top_pc_power",
    oracle=f"""
    WITH e AS (SELECT row_number() OVER () AS rid, embedding AS vec FROM embeddings),
    u AS MATERIALIZED (
      SELECT rid, generate_subscripts(vec, 1) AS i,
             CAST(unnest(vec) AS DOUBLE) AS x
      FROM e
    ),
    cells AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS c
      FROM u a JOIN u b USING (rid) GROUP BY a.i, b.i
    ),
    mm AS (SELECT max(abs(c)) AS m FROM cells),
    p AS MATERIALIZED (
      SELECT i, j,
             CAST(CASE WHEN m = 0 THEN 0
                  ELSE round(1000000.0 * (c / m)) END AS BIGINT) AS g
      FROM cells, mm
    ),
    v0 AS (SELECT unnest(generate_series(1, 64)) AS d,
                  CAST(1000000 AS BIGINT) AS v),
{_PC_ITER}
    sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
            FROM v8 ORDER BY abs(v) DESC, d ASC LIMIT 1)
    SELECT CAST(d AS BIGINT) AS dim, CAST(v * s AS BIGINT) AS v_micros
    FROM v8, sgn
    """,
    doc="Dominant principal direction of the embedding space's uncentered "
    "Gram matrix via eight integer-deterministic power iterations "
    "(operators/clustering.py:top_pc_power) — the anisotropy probe an "
    "embedding-quality audit runs before trusting cosine retrieval "
    "(one direction hoarding the spectrum = contrastive collapse, "
    "uncalibrated similarities). THE 100 TB shape lives in "
    "gram_matrix: each partition reduces to ONE 64x64 float64 partial "
    "via a single BLAS gemm inside Arrow mapInPandas (d^2 doubles per "
    "partition, never a d^2-per-row explode), partials merge with one "
    "grouped sum, C normalizes by max|C| and quantizes ONCE to micros "
    "— after which both engines iterate on identical integers "
    "(markov_stationary discipline; the oracle unrolls the same eight "
    "steps, L-infinity renorm and canonical sign included).",
    tags=("llm", "similarity", "scale"),
)
def q_embedding_top_pc_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.clustering import top_pc_power

    emb = load_table(spark, sf_dir, "embeddings")
    return top_pc_power(emb, dims=64, n_iter=8)


@query(
    "embedding_effective_rank",
    oracle="""
    WITH e AS (SELECT row_number() OVER () AS rid, embedding AS vec FROM embeddings),
    u AS MATERIALIZED (
      SELECT rid, generate_subscripts(vec, 1) AS i,
             CAST(unnest(vec) AS DOUBLE) AS x
      FROM e
    ),
    cells AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS c
      FROM u a JOIN u b USING (rid) GROUP BY a.i, b.i
    ),
    t AS (
      SELECT sum(CASE WHEN i = j THEN c END) AS tr, sum(c * c) AS tr2
      FROM cells
    )
    SELECT CAST(64 AS BIGINT) AS n_dims,
           CAST(round(1000000.0 * (tr * tr / tr2)) AS BIGINT) AS eff_rank_micros,
           CAST(round(1000000.0 * (tr2 / (tr * tr))) AS BIGINT) AS top_share_ub_micros
    FROM t
    """,
    doc="Participation-ratio effective rank of the embedding second-moment "
    "matrix (operators/clustering.py:effective_rank): eff_rank = "
    "tr(C)^2/tr(C^2) = (sum lambda)^2/(sum lambda^2) with NO "
    "eigendecomposition (tr(C^2) = sum_ij C_ij^2 for symmetric C) — the "
    "one-number isotropy audit next to embedding_top_pc_power's direction "
    "probe. 100 TB shape: one gram_matrix gemm pass is the only "
    "data-scale stage; both traces reduce the d^2-row Gram frame; ratios "
    "quantized to micros identically on both engines (acf/top_pc "
    "precedent).",
    tags=("llm", "similarity", "scale"),
)
def q_embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.clustering import effective_rank

    emb = load_table(spark, sf_dir, "embeddings")
    return effective_rank(emb, dims=64)


@query(
    "weighted_quantiles_by_source",
    oracle=r"""
    WITH t AS (
      SELECT source AS g, n_chars AS v,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w
      FROM documents
    ),
    pv AS (SELECT g, v, sum(w) AS w FROM t GROUP BY g, v),
    c AS (
      SELECT g, v,
             sum(w) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM pv
    ),
    tot AS (SELECT g, sum(w) AS tw FROM pv GROUP BY g),
    q(q_num, q_den) AS (VALUES (1, 4), (2, 4), (3, 4), (9, 10))
    SELECT c.g AS group_key,
           CAST(q.q_num AS BIGINT) AS q_num,
           CAST(q.q_den AS BIGINT) AS q_den,
           CAST(min(c.v) AS BIGINT) AS q_value,
           CAST(tot.tw AS BIGINT) AS total_weight
    FROM c JOIN tot ON c.g = tot.g CROSS JOIN q
    WHERE c.cw * q.q_den >= q.q_num * tot.tw
    GROUP BY c.g, q.q_num, q.q_den, tot.tw
    """,
    doc="Token-mass-weighted exact quantiles of document length per "
    "source (operators/profiling.py:weighted_quantiles_by): the p90 "
    "length BY TOKEN WEIGHT — where to truncate so at most 10% of "
    "TOKENS are affected — which the unweighted doc-count percentile "
    "mis-states whenever length and token density correlate. Type-1 "
    "quantiles as exact rationals: smallest v with cum_w(v)*q_den >= "
    "q_num*total_w, pure BIGINT comparisons, bit-exact on any engine. "
    "100 TB shape: one map-side-combined collapse to (source, distinct "
    "length); the cumsum window partitions by source on that frame; "
    "totals and the 4-row quantile frame broadcast.",
    tags=("llm", "textprep", "scale"),
)
def q_weighted_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import weighted_quantiles_by

    docs = _docs(spark, sf_dir)
    return weighted_quantiles_by(
        docs,
        F.col("source"),
        F.col("n_chars"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long"),
    )


@query(
    "similarity_ivf_recall_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
    qn AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    seeds AS (SELECT vec_id AS cid, d, qv AS c FROM qn WHERE vec_id < 160),
    td AS (SELECT qn.vec_id, s.cid, sum((qn.qv - s.c) * (qn.qv - s.c)) AS dist
           FROM qn JOIN seeds s USING (d) GROUP BY qn.vec_id, s.cid),
    ta AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM td) WHERE rn = 1),
    tc AS (SELECT a.cid, qn.d, CAST(floor(CAST(sum(qn.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM qn JOIN ta a USING (vec_id) GROUP BY a.cid, qn.d),
    cents AS (SELECT cid, list_transform(list(c ORDER BY d), x -> x / 1000000.0) AS cv
              FROM tc GROUP BY cid),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    assign AS (
      SELECT vec_id, v, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
      FROM (SELECT e.vec_id, e.v, c.cid, {_cos64('e.v', 'c.cv')} AS cos
            FROM e CROSS JOIN cents c)
    ),
    probes AS (
      SELECT cid FROM cents CROSS JOIN q
      ORDER BY {_cos64('cents.cv', 'q.qv')} DESC, cid ASC LIMIT 4
    ),
    ivf AS (
      SELECT a.vec_id, ROUND({_cos64('a.v', 'q.qv')}, 4) AS cosine
      FROM assign a JOIN probes USING (cid) CROSS JOIN q
      WHERE a.rn = 1
      ORDER BY cosine DESC, a.vec_id ASC LIMIT 10
    ),
    ex AS (
      SELECT e.vec_id, ROUND({_cos64('e.v', 'q.qv')}, 4) AS cosine
      FROM e CROSS JOIN q
      ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    )
    SELECT CAST(10 AS BIGINT) AS k,
           CAST((SELECT count(*) FROM ex JOIN ivf USING (vec_id)) AS BIGINT) AS n_overlap,
           CAST(round(1000000.0 * (CAST((SELECT count(*) FROM ex JOIN ivf USING (vec_id)) AS DOUBLE) / 10.0)) AS BIGINT) AS recall_micros
    """,
    doc="Recall@10 of the trained-quantizer IVF path against the exact "
    "brute-force top-10 for the ladder's standard query (vec_id 0) — "
    "the quality number that closes the ANN ladder the way "
    "similarity_int8_distortion closes the compression rung: IVF with "
    "4/16 probes scans ~25% of the corpus, and THIS measures what that "
    "pruning costs in retrieved-set terms. Both arms reuse the exact "
    "operators under test (sim.cosine_topk, sim.ivf_ann_topk with the "
    "cached trained index); the overlap join runs on two 10-row "
    "frames. 100 TB shape: unchanged from the arms themselves — the "
    "exact arm is one TakeOrdered scan, the IVF arm a pruned scan; the "
    "audit adds only bounded-frame work.",
    tags=("llm", "similarity", "eval"),
)
def q_similarity_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    exact = sim.cosine_topk(emb, qv, k=10).select("vec_id")
    cents, assigned = _ivf_index(spark, sf_dir)
    ivf = sim.ivf_ann_topk(
        emb, qv, k=10, n_centroids=16, n_probe=4, centroids=cents, assigned=assigned
    ).select("vec_id")
    hits = exact.join(ivf, "vec_id").agg(F.count(F.lit(1)).alias("n"))
    return hits.select(
        F.lit(10).cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n_overlap"),
        F.round(F.lit(1_000_000.0) * (F.col("n").cast("double") / F.lit(10.0)))
        .cast("bigint")
        .alias("recall_micros"),
    )


@query(
    "text_length_hill_tail",
    oracle="""
    WITH t AS (
      SELECT CAST(n_chars AS BIGINT) AS x FROM documents
      WHERE n_chars > 0 ORDER BY x DESC LIMIT 65
    ),
    m AS (SELECT min(x) AS xk1 FROM t),
    s AS (
      SELECT CAST(sum(CAST(round(1000.0 * ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s_ln,
             min(xk1) AS x_tail,
             count(*) - 1 AS k_eff
      FROM t, m
    )
    SELECT CAST(k_eff AS BIGINT) AS k,
           CAST(x_tail AS BIGINT) AS x_tail,
           s_ln AS sum_ln_millinats,
           CAST(CASE WHEN s_ln = 0 THEN NULL
                ELSE round(1000000.0 * k_eff / CAST(s_ln AS DOUBLE)) END AS BIGINT) AS alpha_milli
    FROM s
    """,
    doc="Hill tail-index of the document-length distribution "
    "(operators/profiling.py:hill_tail_index): alpha from the top-65 "
    "order statistics, P(len > x) ~ x^-alpha — the extreme-value "
    "companion to corpus_zipf_fit that tells a curation pipeline "
    "whether length has finite variance (alpha <= 2 -> means and "
    "uniform reservoirs stop being representative; switch to weighted "
    "accounting and explicit truncation budgets). Millinat-quantized "
    "log-ratios sum as exact BIGINTs (the threshold copy contributes "
    "ln(1) = 0, so no boundary exclusion is needed); one TakeOrdered "
    "scan is the only data-scale stage.",
    tags=("llm", "textprep", "stats"),
)
def q_text_length_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import hill_tail_index

    docs = _docs(spark, sf_dir)
    return hill_tail_index(docs, F.col("n_chars"), k=64)
