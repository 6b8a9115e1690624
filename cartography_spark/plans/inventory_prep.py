"""Training-data preparation inventory: repetition filtering, PII
scrubbing, context-window chunking, sequence packing, and benchmark
contamination — the post-dedup stages of an LLM data pipeline, each
oracle-verified against DuckDB on the documents table.

All Spark plans are UDF-free (whole-stage codegen); see
operators/textprep.py for the 100 TB scale notes per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.operators import textprep as tp
from cartography_spark.plans.registry import query
from cartography_spark.sources.parquet import load_table

_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


_KMEANS4_CTES = """
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, d, qv AS c FROM q WHERE vec_id < 4),
    d1 AS (SELECT q.vec_id, c.cid, sum((q.qv - c.c) * (q.qv - c.c)) AS dist
           FROM q JOIN c0 c USING (d) GROUP BY q.vec_id, c.cid),
    a1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d1) WHERE rn = 1),
    c1 AS (SELECT a.cid, q.d, CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM q JOIN a1 a USING (vec_id) GROUP BY a.cid, q.d),
    d2 AS (SELECT q.vec_id, c.cid, sum((q.qv - c.c) * (q.qv - c.c)) AS dist
           FROM q JOIN c1 c USING (d) GROUP BY q.vec_id, c.cid),
    a2 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d2) WHERE rn = 1),
    c2 AS (SELECT a.cid, q.d, CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM q JOIN a2 a USING (vec_id) GROUP BY a.cid, q.d),
    d3 AS (SELECT q.vec_id, c.cid, sum((q.qv - c.c) * (q.qv - c.c)) AS dist
           FROM q JOIN c2 c USING (d) GROUP BY q.vec_id, c.cid),
    a3 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d3) WHERE rn = 1)
"""


@query(
    "text_repetition_stats",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, toks, greatest(len(toks), 1) AS n,
             [toks[i] || ' ' || toks[i+1]
              FOR i IN generate_series(1, greatest(len(toks) - 1, 0))] AS bigrams,
             list_aggregate(list_transform(list_distinct(toks),
                 u -> len(list_filter(toks, x -> x = u))), 'max') AS top_n
      FROM t
    ),
    f AS (
      SELECT doc_id,
             top_n / n AS twf,
             CASE WHEN len(bigrams) > 0
                  THEN (len(bigrams) - len(list_distinct(bigrams))) / len(bigrams)
                  ELSE 0.0 END AS dbf,
             len(list_distinct(toks)) / n AS dtr
      FROM m
    )
    SELECT doc_id, ROUND(twf, 6) AS top_word_frac, ROUND(dbf, 6) AS dup_bigram_frac,
           ROUND(dtr, 6) AS distinct_token_ratio,
           (twf > 0.2 OR dbf > 0.3) AS repetitive
    FROM f
    """,
    doc="Gopher-style repetition filter: top-token fraction, duplicate "
    "word-bigram fraction, distinct-token ratio — all computed inside the "
    "row (narrow map, zero shuffle), the cheap pre-training degeneracy "
    "filter.",
    tags=("llm", "text"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tp.repetition_stats(_docs(spark, sf_dir))


@query(
    "text_pii_scrub",
    oracle=rf"""
    WITH p AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id % 100 AS VARCHAR) || '@example.com'
                  || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST((doc_id * 13) % 256 AS VARCHAR) AS t
      FROM documents
    ),
    r AS (
      SELECT doc_id, t,
             regexp_replace(regexp_replace(t,
                 '{tp.EMAIL_RE}', '<EMAIL>', 'g'),
                 '{tp.PHONE_RE}', '<PHONE>', 'g') AS r2
      FROM p
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{tp.EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{tp.PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(r2, '{tp.IPV4_RE}')) AS INT) AS n_ips,
           md5(regexp_replace(r2, '{tp.IPV4_RE}', '<IP>', 'g')) AS redacted_md5
    FROM r
    """,
    doc="PII scrubbing: synthesize deterministic email/phone/IPv4 (fake "
    "payload, real plumbing — the corpus has none), then regex-redact with "
    "typed placeholders and per-type counts; md5 of the redacted text "
    "verifies the exact replacement output. Narrow map, zero shuffle.",
    tags=("llm", "text"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tp.scrub_pii(tp.synthesize_pii_column(_docs(spark, sf_dir)))


@query(
    "doc_chunking",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), 15)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) // 15 AS INT) AS chunk_id,
           CAST(len(toks[start : start + 19]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(toks[start : start + 19], ' ')) AS chunk_md5
    FROM s
    """,
    doc="Context-window chunking: overlapping 20-token windows every 15 "
    "tokens (posexplode of the stride starts, slice per chunk). Row count "
    "multiplies ~n/stride; callers repartition compact inputs pre-explode.",
    tags=("llm", "text"),
)
def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tp.chunk_documents(_docs(spark, sf_dir))


@query(
    "sequence_packing",
    oracle=rf"""
    WITH t AS (SELECT doc_id, lang, len({_TOKS}) AS n FROM documents),
    b AS (
      SELECT lang, n,
             CAST((sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n) // 256 AS BIGINT) AS bin
      FROM t
    )
    SELECT lang, bin, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
    FROM b GROUP BY lang, bin
    """,
    doc="Sequence packing into 256-token context bins, concatenate-and-"
    "split convention: bin = running-token-offset // budget within each "
    "language partition — one window shuffle, deterministic across "
    "engines/re-runs (unlike greedy bin packing, which is sequential).",
    tags=("llm", "sampling"),
)
def q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tp.pack_sequences(_docs(spark, sf_dir), budget=256)


@query(
    "batch_length_buckets",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n,
             CAST(power(2, ceil(log2(greatest(len({_TOKS}), 16)))) AS BIGINT) AS tgt
      FROM documents
    )
    SELECT tgt AS bucket_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS real_tokens,
           CAST(sum(tgt) AS BIGINT) AS padded_tokens,
           CAST((sum(tgt) - sum(n)) * 1000 // sum(tgt) AS BIGINT) AS waste_permille
    FROM t GROUP BY tgt
    """,
    doc="Power-of-two length-bucketed batching with padding-waste "
    "accounting (operators/textprep.py:length_bucket_batches) — the "
    "shuffle-light alternative to bin packing when examples must stay "
    "intact: each doc pads to the next power-of-two token length >= 16; "
    "the report prices the padding per bucket (waste in integer "
    "permille). Bucket assignment is a pure per-row expression, so the "
    "only shuffle is one ~log2(max_len)-group combinable aggregate — vs "
    "ntile bucketing's global sort — and bucket ids are stable under "
    "data growth (a reproducibility property ntile lacks).",
    tags=("llm", "sampling"),
)
def q_batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tp.length_bucket_batches(_docs(spark, sf_dir))


@query(
    "lang_temperature_weights",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
    w AS (SELECT lang, n, n / total AS p, pow(n / total, 0.3) AS pa FROM c CROSS JOIN t),
    s AS (SELECT sum(pa) AS z FROM w)
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           ROUND(p, 6) AS p_raw,
           ROUND(pa / z, 6) AS p_sampled,
           ROUND((pa / z) / p, 6) AS upsample_factor
    FROM w CROSS JOIN s
    """,
    doc="Temperature-resampled language weights (alpha=0.3, the XLM-R / "
    "mC4 multilingual rebalancing): p^alpha renormalized, upsample factor "
    "per language. One tiny post-aggregation window — the groupBy shuffle "
    "is the only data-sized stage.",
    tags=("llm", "sampling"),
)
def q_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _docs(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("n_docs"))
    wall = Window.partitionBy()
    p = F.col("n_docs") / F.sum("n_docs").over(wall)
    step = c.select("lang", "n_docs", p.alias("p"), F.pow(p, 0.3).alias("pa"))
    z = F.sum("pa").over(wall)
    return step.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("p"), 6).alias("p_raw"),
        F.round(F.col("pa") / z, 6).alias("p_sampled"),
        F.round((F.col("pa") / z) / F.col("p"), 6).alias("upsample_factor"),
    )


@query(
    "embedding_kmeans",
    oracle="""
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, d, qv AS c FROM q WHERE vec_id < 16),
    d1 AS (SELECT q.vec_id, c.cid, sum((q.qv - c.c) * (q.qv - c.c)) AS dist
           FROM q JOIN c0 c USING (d) GROUP BY q.vec_id, c.cid),
    a1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d1) WHERE rn = 1),
    c1 AS (SELECT a.cid, q.d, CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM q JOIN a1 a USING (vec_id) GROUP BY a.cid, q.d),
    d2 AS (SELECT q.vec_id, c.cid, sum((q.qv - c.c) * (q.qv - c.c)) AS dist
           FROM q JOIN c1 c USING (d) GROUP BY q.vec_id, c.cid),
    a2 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d2) WHERE rn = 1),
    c2 AS (SELECT a.cid, q.d, CAST(floor(CAST(sum(q.qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM q JOIN a2 a USING (vec_id) GROUP BY a.cid, q.d),
    d3 AS (SELECT q.vec_id, c.cid, CAST(sum((q.qv - c.c) * (q.qv - c.c)) AS BIGINT) AS dist
           FROM q JOIN c2 c USING (d) GROUP BY q.vec_id, c.cid),
    a3 AS (SELECT vec_id, cid, dist FROM (
             SELECT vec_id, cid, dist,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             FROM d3) WHERE rn = 1)
    SELECT vec_id, cid AS cluster, dist AS dist_sq,
           (vec_id = min(vec_id) OVER (PARTITION BY cid)) AS keep
    FROM a3
    """,
    doc="Distributed Lloyd k-means over the embeddings table (k=16, 3 "
    "assignment rounds, deterministic lowest-id init): per-vector cluster "
    "assignment, integer-exact squared distance, and the SemDeDup-style "
    "canonical keep flag. Runs the integer-exact operator "
    "(clustering.kmeans_exact: bigint micro-unit quantization, "
    "floor-division centroid updates) so the whole iterative algorithm is "
    "hash-identical to the unrolled-CTE oracle.",
    tags=("llm", "similarity"),
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.clustering import kmeans_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_exact(emb, k=16, rounds=3)


@query(
    "embedding_kmeans_exact",
    oracle=_KMEANS4_CTES + """
    SELECT vec_id, cid AS cluster FROM a3
    """,
    doc="Integer-exact Lloyd k-means (k=4, 3 rounds): embeddings quantized "
    "to bigint micro-units, centroid updates by portable floor-division, "
    "assignment tie-break total on (dist, cid) — so the ENTIRE iterative "
    "algorithm is bit-identical to the unrolled-CTE oracle, unlike the "
    "float variant above (rows-only by necessity). Per round: one "
    "broadcast of the k x dim centroid table, one (vec, cid) distance "
    "aggregate, one min_by argmin (mergeable, no window sort), one "
    "centroid rebuild; localCheckpoint truncates the per-round lineage "
    "doubling (same discipline as the iterative graph operators).",
    tags=("llm", "similarity"),
)
def q_embedding_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.clustering import kmeans_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_exact(emb, k=4, rounds=3).select("vec_id", "cluster")


@query(
    "contamination_ngram_overlap",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(toks[i : i + 4], ' ')
                    FOR i IN generate_series(1, greatest(len(toks) - 4, 0))])) AS gram
      FROM t
    ),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    m AS (SELECT g.doc_id, count(*) AS n_matched FROM g JOIN bg USING (gram) GROUP BY g.doc_id)
    SELECT s.doc_id, s.n_grams,
           CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
           ROUND(coalesce(m.n_matched, 0) / s.n_grams, 6) AS contam_frac,
           (coalesce(m.n_matched, 0) / s.n_grams >= 0.2) AS contaminated
    FROM sizes s LEFT JOIN m ON s.doc_id = m.doc_id
    """,
    doc="Benchmark-contamination check: share of each document's distinct "
    "word 5-grams that appear in the benchmark set (docs 0-19 stand in for "
    "an eval suite). Benchmark grams broadcast; corpus side is explode -> "
    "broadcast left-semi probe -> one count shuffle — no corpus self-join.",
    tags=("llm", "dedup"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 20)
    return tp.contamination_overlap(docs, bench)


@query(
    "sketch_kmv_distinct",
    oracle="""
    WITH h AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM lineitem
    ),
    k AS (SELECT max(h) AS kth, count(*) AS got FROM (SELECT h FROM h ORDER BY h LIMIT 64)),
    x AS (SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem)
    SELECT 64 AS k,
           CASE WHEN got < 64 THEN CAST(got AS DOUBLE)
                ELSE ROUND(63.0 * 4294967296.0 / kth, 2) END AS estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM k CROSS JOIN x
    """,
    doc="KMV (k-minimum-values) distinct-count sketch over l_partkey: "
    "k=64 smallest md5-32 hashes, estimate (k-1)*2^32/h_k. One hash "
    "projection + global TakeOrdered(k) — no full shuffle; sketches merge "
    "by union+re-take-k. md5 hashing makes the sketch bit-exact in the "
    "oracle (n_exact included for the accuracy comparison).",
    tags=("llm", "sketch"),
)
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import kmv_distinct_estimate

    li = load_table(spark, sf_dir, "lineitem")
    est = kmv_distinct_estimate(li, "l_partkey")
    exact = li.agg(F.countDistinct("l_partkey").cast("bigint").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact))


@query(
    "sketch_hll_distinct",
    oracle="""
    WITH h AS (
      SELECT md5(CAST(l_orderkey AS VARCHAR)) AS hx FROM lineitem
    ),
    r AS (
      SELECT ('0x' || substring(hx, 1, 2))::BIGINT AS b,
             regexp_replace(substring(hx, 3, 30), '^0+', '') AS st
      FROM h
    ),
    rho AS (
      SELECT b,
             CASE WHEN st = '' THEN 32
                  ELSE least((30 - length(st)) * 4 +
                       CASE WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 8 THEN 0
                            WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 4 THEN 1
                            WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 2 THEN 2
                            ELSE 3 END + 1, 32) END AS rho
      FROM r
    ),
    regs AS (SELECT b, max(rho) AS mx FROM rho GROUP BY b),
    agg AS (
      SELECT CAST(sum(1::BIGINT << (32 - mx)) AS BIGINT) AS s, count(*) AS used FROM regs
    ),
    x AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
    SELECT 256 AS m, CAST(used AS BIGINT) AS used_buckets,
           CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0
                     / (s + (256 - used) * 4294967296) <= 640.0 AND used < 256
                THEN ROUND(256.0 * ln(256.0 / (256 - used)), 2)
                ELSE ROUND((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0
                     / (s + (256 - used) * 4294967296), 2) END AS estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM agg CROSS JOIN x
    """,
    doc="HyperLogLog distinct-count sketch over l_orderkey (p=8, 256 "
    "registers): bucket = first two md5 hex digits, rank = leading-zero "
    "bits of the remaining 120 (from hex nibbles, capped at 32 so the "
    "harmonic-sum terms are exact BIGINTs — engine-portable, no float-sum "
    "order sensitivity). One pass, map-side-combinable 256-group max, NO "
    "distinct shuffle; registers merge by pairwise max. Linear-counting "
    "fallback below 2.5m. n_exact alongside exposes the sketch error.",
    tags=("llm", "sketch"),
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import hll_distinct_estimate

    li = load_table(spark, sf_dir, "lineitem")
    est = hll_distinct_estimate(li, "l_orderkey")
    exact = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact))


_HLL_RHO_CASE = """
             CASE WHEN st = '' THEN 32
                  ELSE least((30 - length(st)) * 4 +
                       CASE WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 8 THEN 0
                            WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 4 THEN 1
                            WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 2 THEN 2
                            ELSE 3 END + 1, 32) END"""


def _hll_est_sql(s: str, used: str) -> str:
    """The register-collapse estimate (harmonic mean + linear-counting
    fallback) over aggregate columns ``s``/``used`` — identical literal
    chain to hll_estimate_from_registers so the IEEE op order matches."""
    raw = (
        f"(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0"
        f" / ({s} + (256 - {used}) * 4294967296)"
    )
    return (
        f"CASE WHEN {raw} <= 640.0 AND {used} < 256"
        f" THEN ROUND(256.0 * ln(256.0 / (256 - {used})), 2)"
        f" ELSE ROUND({raw}, 2) END"
    )


@query(
    "sketch_hll_rollup_merge",
    oracle=f"""
    WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
    r AS (SELECT event_type, ('0x' || substring(hx, 1, 2))::BIGINT AS b,
                 regexp_replace(substring(hx, 3, 30), '^0+', '') AS st
          FROM h),
    rho AS (SELECT event_type, b, {_HLL_RHO_CASE} AS rho FROM r),
    per_type AS (SELECT event_type, b, max(rho) AS mx
                 FROM rho GROUP BY event_type, b),
    merged AS (SELECT b, max(mx) AS mx FROM per_type GROUP BY b),
    direct AS (SELECT b, max(rho) AS mx FROM rho GROUP BY b),
    am AS (SELECT CAST(sum(1::BIGINT << (32 - mx)) AS BIGINT) AS s,
                  count(*) AS used FROM merged),
    ad AS (SELECT CAST(sum(1::BIGINT << (32 - mx)) AS BIGINT) AS s,
                  count(*) AS used FROM direct),
    g AS (SELECT count(DISTINCT event_type) AS n_groups FROM events),
    x AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
    SELECT 256 AS m,
           CAST(am.used AS BIGINT) AS used_buckets,
           {_hll_est_sql("am.s", "am.used")} AS estimate_merged,
           {_hll_est_sql("ad.s", "ad.used")} AS estimate_direct,
           ({_hll_est_sql("am.s", "am.used")}
              = {_hll_est_sql("ad.s", "ad.used")}) AS merged_equals_direct,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM am CROSS JOIN ad CROSS JOIN g CROSS JOIN x
    """,
    doc="Sketch RE-AGGREGATION — the property that makes distinct counts "
    "cube-able at 100 TB: per-event-type HLL register sets "
    "(operators/sketches.py:hll_registers_by) merged upward with a "
    "register-wise max equal the sketch built directly on the union, "
    "EXACTLY, despite users overlapping across types (per-group exact "
    "distincts cannot be summed upward; register max is associative, "
    "commutative, idempotent). The query proves it end-to-end: "
    "estimate_merged = estimate_direct, alongside the exact count. Cost: "
    "one pass + a (n_types x 256)-row rollup; no distinct shuffle "
    "anywhere in the sketch path.",
    tags=("llm", "sketch", "scale"),
)
def q_sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
        hll_registers_by,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = hll_registers_by(ev, "user_id", ["event_type"])
    merged = per_type.groupBy("b").agg(F.max("mx").alias("mx"))
    est_m = hll_estimate_from_registers(merged).select(
        "m", "used_buckets", F.col("estimate").alias("estimate_merged")
    )
    est_d = hll_estimate_from_registers(hll_registers(ev, "user_id")).select(
        F.col("estimate").alias("estimate_direct")
    )
    g = ev.agg(F.countDistinct("event_type").cast("bigint").alias("n_groups"))
    x = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return (
        est_m.crossJoin(F.broadcast(est_d))
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(x))
        .select(
            "m",
            "used_buckets",
            "estimate_merged",
            "estimate_direct",
            (F.col("estimate_merged") == F.col("estimate_direct")).alias(
                "merged_equals_direct"
            ),
            "n_groups",
            "n_exact",
        )
    )


@query(
    "sketch_countmin_heavy_hitters",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    true_c AS (SELECT tok, count(*) AS true_n FROM toks GROUP BY tok),
    top AS (SELECT tok, true_n FROM true_c ORDER BY true_n DESC, tok LIMIT 10),
    cells AS (
      SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 16 AS b,
             count(*) AS n
      FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
      GROUP BY r, b
    ),
    probes AS (
      SELECT top.tok, top.true_n, r2.r,
             ('0x' || substring(md5(CAST(r2.r AS VARCHAR) || ':' || top.tok), 1, 8))::BIGINT % 16 AS b
      FROM top CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r) r2
    )
    SELECT p.tok, CAST(p.true_n AS BIGINT) AS true_n,
           CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est_n
    FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.b = p.b
    GROUP BY p.tok, p.true_n
    """,
    doc="Count-Min frequency sketch (4 x 16 md5-bucketed counters) probed "
    "for the true top-10 tokens: build is one map-side-combinable groupBy "
    "to at most depth*width cells; estimate = min over rows, biased up by "
    "collisions only. true_n alongside est_n exposes the sketch error "
    "exactly; the oracle rebuilds the identical counter matrix.",
    tags=("llm", "sketch"),
)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import countmin_build, countmin_estimate

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    true_c = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("true_n"))
    top = true_c.orderBy(F.col("true_n").desc(), F.col("tok")).limit(10)
    sketch = countmin_build(toks, "tok", width=16, depth=4)
    est = countmin_estimate(sketch, top.select("tok"), "tok", width=16, depth=4)
    return top.join(est, "tok").select("tok", "true_n", "est_n")


@query(
    "weighted_sample",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS wt,
             (('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT doc_id, CAST(wt AS BIGINT) AS weight, ROUND(ln(u) / wt, 6) AS sample_key
    FROM w ORDER BY ln(u) / wt DESC, doc_id LIMIT 50
    """,
    doc="Deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis): key = ln(u)/w from the salted md5, top-50 by key — "
    "token-count-proportional inclusion, reproducible across engines. "
    "Narrow projection + TakeOrdered, no shuffle.",
    tags=("llm", "sampling"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import weighted_sample_topk

    docs = _docs(spark, sf_dir)
    wt = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    return weighted_sample_topk(docs, wt, k=50)


@query(
    "stratified_sample",
    oracle="""
    WITH r AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
               ('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
               doc_id ASC) AS rnk
      FROM documents
    )
    SELECT lang, doc_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 20
    """,
    doc="Stratified sampling: exactly 20 docs per language by salted-hash "
    "order (a uniform deterministic permutation within each stratum) — "
    "one shuffle on the group key.",
    tags=("llm", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import stratified_sample_topk

    return stratified_sample_topk(_docs(spark, sf_dir), group_col="lang", k=20)


@query(
    "sketch_histogram_quantiles",
    oracle="""
    WITH h AS (
      SELECT CAST(least(greatest(floor((l_extendedprice - 0.0) / 1718.75), 0), 63) AS INT) AS bin,
             count(*) AS n
      FROM lineitem GROUP BY 1
    ),
    c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM h),
    t AS (SELECT sum(n) AS total FROM h),
    qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
    hit AS (
      SELECT q, bin, n, cum, total FROM c CROSS JOIN t CROSS JOIN qs
      WHERE cum >= q * total AND (cum - n) < q * total
    ),
    x AS (SELECT quantile_cont(l_extendedprice, 0.5) AS e50,
                 quantile_cont(l_extendedprice, 0.9) AS e90,
                 quantile_cont(l_extendedprice, 0.99) AS e99 FROM lineitem)
    SELECT q,
           ROUND(0.0 + (bin + (q * total - (cum - n)) / n) * 1718.75, 6) AS estimate,
           ROUND(CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90 ELSE e99 END, 4) AS exact_value
    FROM hit CROSS JOIN x
    """,
    doc="Mergeable histogram-quantile sketch over l_extendedprice: 64 "
    "fixed [0, 110000) bins built in one map-side-combinable groupBy (at "
    "most 64 cells shuffle, merging = cell-wise sum), then rank location + "
    "linear interpolation on the sketch rows. Error bounded by one bin "
    "width; exact_value (sort-based percentile) alongside exposes it. The "
    "interpolation op order matches the oracle exactly — bit-identical "
    "estimates.",
    tags=("llm", "sketch"),
)
def q_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import (
        histogram_build,
        histogram_quantile_estimates,
    )

    li = load_table(spark, sf_dir, "lineitem")
    hist = histogram_build(li, "l_extendedprice", lo=0.0, hi=110000.0, bins=64)
    est = histogram_quantile_estimates(hist, 0.0, 110000.0, 64, (0.5, 0.9, 0.99))
    exact = li.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("e50"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("e90"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("e99"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "q",
        "estimate",
        F.round(
            F.when(F.col("q") == 0.5, F.col("e50"))
            .when(F.col("q") == 0.9, F.col("e90"))
            .otherwise(F.col("e99")),
            4,
        ).alias("exact_value"),
    )


@query(
    "sketch_kmv_intersection",
    oracle="""
    WITH a AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    b AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM orders WHERE o_orderstatus = 'F'
    ),
    ka AS (SELECT h FROM a ORDER BY h LIMIT 64),
    kb AS (SELECT h FROM b ORDER BY h LIMIT 64),
    uk AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) ORDER BY h LIMIT 64),
    kth AS (SELECT max(h) AS kth FROM uk),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM uk
      WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
    ),
    x AS (
      SELECT CAST(count(*) AS BIGINT) AS n_inter_exact FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      )
    )
    SELECT 64 AS k, m, ROUND(m / 64.0, 6) AS jaccard_est,
           ROUND((m / 64.0) * (63.0 * 4294967296.0 / kth), 2) AS inter_est,
           n_inter_exact
    FROM m CROSS JOIN kth CROSS JOIN x
    """,
    doc="KMV set-operation sketch (operators/sketches.py:"
    "kmv_intersection_estimate): Jaccard + intersection cardinality of "
    "two customer sets (urgent-priority vs finished-status buyers) from "
    "their k-min-value sketches alone — the theta-sketch idiom that "
    "answers set algebra over 100 TB partitions from kilobyte sketches. "
    "m of the union's 64 sample hashes land in both per-set sketches; "
    "md5-derived hashes make m and both estimates bit-exact in the "
    "oracle, with exact counts alongside.",
    tags=("llm", "sketch"),
)
def q_sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import kmv_intersection_estimate

    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return kmv_intersection_estimate(a, b, "o_custkey")


@query(
    "sketch_kmv_difference",
    oracle="""
    WITH a AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    b AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM orders WHERE o_orderstatus = 'F'
    ),
    ka AS (SELECT h FROM a ORDER BY h LIMIT 64),
    kb AS (SELECT h FROM b ORDER BY h LIMIT 64),
    uk AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) ORDER BY h LIMIT 64),
    kth AS (SELECT max(h) AS kth FROM uk),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM uk
      WHERE h IN (SELECT h FROM ka) AND h NOT IN (SELECT h FROM kb)
    ),
    x AS (
      SELECT CAST(count(*) AS BIGINT) AS n_diff_exact FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      )
    )
    SELECT 64 AS k, m,
           ROUND((m / 64.0) * (63.0 * 4294967296.0 / kth), 2) AS diff_est,
           n_diff_exact
    FROM m CROSS JOIN kth CROSS JOIN x
    """,
    doc="KMV A-not-B sketch (operators/sketches.py:"
    "kmv_difference_estimate): |urgent-buyers \\\\ finished-buyers| "
    "estimated from the union's k-min sample members found in A's "
    "sketch but not B's — with intersection (sketch_kmv_intersection) "
    "this completes the sketch set algebra (and, by inclusion-"
    "exclusion, union): answer audit deltas between 100 TB partitions "
    "from kilobyte sketches. Bit-exact m vs the oracle; exact "
    "difference count alongside.",
    tags=("llm", "sketch"),
)
def q_sketch_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import kmv_difference_estimate

    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return kmv_difference_estimate(a, b, "o_custkey")


@query(
    "dsir_importance_resample",
    oracle=rf"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    g0 AS (
      SELECT doc_id, lang,
             unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN generate_series(1, greatest(len(toks) - 1, 0))]) AS g
      FROM t
    ),
    g AS (SELECT doc_id, lang,
                 ('0x' || substring(md5('dsir:' || g), 1, 8))::BIGINT % 256 AS b
          FROM g0),
    raw AS (SELECT b, count(*) AS rc FROM g GROUP BY b),
    tgt AS (SELECT b, count(*) AS tc FROM g WHERE lang = 'de' GROUP BY b),
    model0 AS (SELECT raw.b, rc, coalesce(tc, 0) AS tc
               FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
    tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM model0),
    model AS (SELECT b,
                     CAST(round((ln((tc + 1.0) / (tt + 256.0))
                               - ln((rc + 1.0) / (rt + 256.0))) * 1000) AS BIGINT) AS lr
              FROM model0, tot),
    scored AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(lr) AS BIGINT) AS weight_millinats
      FROM g JOIN model USING (b) GROUP BY g.doc_id
    ),
    chosen AS (SELECT doc_id FROM scored
               ORDER BY weight_millinats DESC, doc_id ASC LIMIT 100)
    SELECT s.doc_id, s.n_grams, s.weight_millinats,
           coalesce(c.doc_id IS NOT NULL, false) AS selected
    FROM scored s LEFT JOIN chosen c ON s.doc_id = c.doc_id
    """,
    doc="DSIR data selection (Xie et al. 2023, operators/sampling.py:"
    "dsir_importance): importance-weight every document by the hashed-"
    "bigram log-likelihood ratio between the target slice (lang='de') "
    "and the raw corpus, add-1 smoothed over 256 md5 buckets, log-ratios "
    "quantized to millinat bigints so per-doc sums are engine-exact; "
    "select the top-100 by (weight desc, id). The model is a bounded "
    "broadcast (256 rows + 2 scalar totals); scoring is one broadcast "
    "join + per-doc sum; selection a TakeOrdered semi-join — no global "
    "window, two corpus passes total at any scale.",
    tags=("llm", "sampling"),
)
def q_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import dsir_importance

    return dsir_importance(_docs(spark, sf_dir), F.col("lang") == "de")


@query(
    "semdedup_within_cluster",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding, (x, i) -> CASE WHEN i = 2 THEN x * 1.1 ELSE x END)
      FROM embeddings WHERE vec_id < 20
    ),
    """
    + _KMEANS4_CTES.replace("FROM embeddings\n    )", "FROM base\n    )").replace(
        "WITH q AS", "q AS"
    )
    + f"""
    , assign AS (SELECT vec_id, cid AS cluster FROM a3),
    pruned AS (
      SELECT DISTINCT y.vec_id AS idb
      FROM assign x JOIN assign y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN base a ON a.vec_id = x.vec_id
      JOIN base b ON b.vec_id = y.vec_id
      WHERE round(
        list_aggregate(list_transform(generate_series(1, 64),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
        / (sqrt(list_aggregate(list_transform(generate_series(1, 64),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
           * sqrt(list_aggregate(list_transform(generate_series(1, 64),
             i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))),
        4) >= 0.9
    )
    SELECT s.vec_id, s.cluster,
           coalesce(p.idb IS NOT NULL, false) AS pruned
    FROM assign s LEFT JOIN pruned p ON s.vec_id = p.idb
    """,
    doc="SemDeDup (Abbas et al. 2023, operators/clustering.py:"
    "semdedup_prune): integer-exact k-means clustering, then cosine "
    "pruning WITHIN clusters only — prune a vector when a lower-id "
    "cluster-mate has cosine >= 0.9. The pair generator is an equi-join "
    "on the cluster id, so candidate pairs are bounded by the largest "
    "cluster, never the corpus; at production scale k grows with n to "
    "cap cluster sizes. Assignment is hash-identical to the unrolled "
    "k-means CTE; the float cosine recheck rounds at 4 digits. The "
    "operator's exact-collapse default is a no-op on this input (all "
    "520 vectors are bit-distinct — the injected twins are perturbed), "
    "so the uncollapsed oracle CTE describes the executed path exactly; "
    "the collapse path itself is pinned by "
    "test_semdedup_collapse_exact_twins.",
    tags=("llm", "dedup", "similarity"),
)
def q_semdedup_within_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.clustering import semdedup_prune

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # near-dup twins injected deterministically, same recipe as
    # dedup_embedding_cosine (DuckDB list index 2 == Spark index 1)
    perturbed = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 1, x * 1.1).otherwise(x)
        ).alias("embedding"),
    )
    return semdedup_prune(emb.unionByName(perturbed), k=4, rounds=3, threshold=0.9)


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS INTEGER) AS bal_band,
             count(*) AS group_size
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT c_nationkey, c_mktsegment, bal_band, group_size,
           (group_size < 5) AS suppress
    FROM cells
    """,
    doc="k-anonymity audit over the quasi-identifier triple (nation, "
    "segment, coarsened balance band): any equivalence class smaller than "
    "k=5 is re-identifiable and flagged for suppression — the release "
    "gate that runs next to PII scrubbing (text_pii_scrub) before a "
    "training corpus or report leaves the warehouse. One map-side-"
    "combined groupBy; the flag is a row-local predicate on the group "
    "size, so the audit costs exactly one shuffle of the QI cells "
    "regardless of table size.",
    tags=("llm", "prep", "privacy"),
)
def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cells = (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        )
        .agg(F.count("*").alias("group_size"))
    )
    return cells.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "group_size",
        (F.col("group_size") < 5).alias("suppress"),
    )


@query(
    "text_blocklist_filter",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    hits AS (
      SELECT doc_id, count(*) AS n_blocked
      FROM toks WHERE tok IN ('error', 'slow', 'leak') GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(h.n_blocked, 0) AS n_blocked,
           (h.doc_id IS NOT NULL) AS blocked
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    doc="C4-style blocklist filtering: flag documents containing any "
    "blocklisted term, with the per-doc hit count for threshold tuning. "
    "The blocklist lives in the token IN-filter (pushed into the "
    "post-explode filter; for large lists it becomes a broadcast "
    "semi-join against a blocklist table — same plan either way). One "
    "explode + one aggregate + one left join back to the doc spine; "
    "unblocked docs never enter the aggregate.",
    tags=("llm", "prep", "text"),
)
def q_text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism, "doc_id")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    hits = (
        toks.filter(F.col("tok").isin("error", "slow", "leak"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_blocked"))
    )
    return (
        d.select("doc_id")
        .join(hits.withColumnRenamed("doc_id", "h_doc"), d.doc_id == F.col("h_doc"), "left")
        .select(
            "doc_id",
            F.coalesce("n_blocked", F.lit(0)).alias("n_blocked"),
            F.col("h_doc").isNotNull().alias("blocked"),
        )
    )


@query(
    "mixture_apportionment",
    oracle="""
    WITH src AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM src),
    quota AS (
      SELECT s.source, s.n_docs,
             CAST((s.n_docs * 1000) // t.n AS BIGINT) AS floor_permille,
             CAST((s.n_docs * 1000) % t.n AS BIGINT) AS remainder
      FROM src s CROSS JOIN tot t
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY remainder DESC, source ASC) AS rnk,
             CAST(1000 - (SELECT sum(floor_permille) FROM quota) AS BIGINT) AS leftover
      FROM quota
    )
    SELECT source, n_docs,
           CAST(floor_permille + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS permille
    FROM ranked
    """,
    doc="Largest-remainder (Hamilton) apportionment of a 1000-slot "
    "training-mix budget across sources: integer floor quotas, then the "
    "leftover slots go to the largest remainders with a deterministic "
    "(remainder, source) tie-break — the quotas sum to exactly 1000 by "
    "construction, which proportional float rounding cannot guarantee. "
    "The op that turns measured source sizes into an exact sampling "
    "schedule for dataset mixing. Runs entirely on the |sources|-row "
    "aggregate; the only full-table work is the initial count.",
    tags=("llm", "prep", "sampling"),
)
def q_mixture_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    src = _docs(spark, sf_dir).groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = src.agg(F.sum("n_docs").alias("n"))
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("(n_docs * 1000) div n").alias("floor_permille"),  # integer div, same floor as the oracle's //
        ((F.col("n_docs") * 1000) % F.col("n")).alias("remainder"),
    )
    quota = quota.localCheckpoint(eager=False)
    used = quota.agg(F.sum("floor_permille").alias("used"))
    # |sources| rows: the single-partition rank window is sketch-sized
    w = Window.orderBy(F.col("remainder").desc(), F.col("source").asc())
    return (
        quota.crossJoin(F.broadcast(used))
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "source",
            "n_docs",
            (
                F.col("floor_permille")
                + F.when(F.col("rnk") <= 1000 - F.col("used"), 1).otherwise(0)
            ).cast("bigint").alias("permille"),
        )
    )


@query(
    "budget_token_trim",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             n_chars
      FROM documents
    ),
    ranked AS (
      SELECT *,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ranked WHERE cum_tokens <= 800
    """,
    doc="Per-source token-budget trimming: rank each source's documents "
    "by a quality proxy (length here; any score column slots in) under "
    "a deterministic (score, doc_id) total order, keep the prefix whose "
    "cumulative token count fits the budget — the greedy fill step that "
    "turns mixture_apportionment's quotas into an actual document "
    "selection. One window shuffle partitioned by source; the cumulative "
    "sum never materializes per-group orderings beyond the window sort.",
    tags=("llm", "prep", "sampling"),
)
def q_budget_token_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .filter(F.col("cum_tokens") <= 800)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@query(
    "url_canonical_dedup",
    oracle="""
    WITH u AS (
      SELECT doc_id, source,
             (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
               || '://www.site' || (doc_id % 5)
               || (CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                                   WHEN 2 THEN '.org' ELSE '.com' END)
               || '/docs/' || source || '/' || (doc_id % 10)
               || (CASE WHEN doc_id % 3 IN (0, 1)
                        THEN '?id=' || (doc_id % 10) ELSE '' END) AS canonical_url,
             'site' || (doc_id % 5)
               || (CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                                   WHEN 2 THEN '.org' ELSE '.com' END) AS domain
      FROM documents
    )
    SELECT canonical_url, domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM u GROUP BY canonical_url, domain
    """,
    doc="URL-level dedup, the FIRST dedup stage of web-corpus pipelines "
    "(before any content hashing): deterministic MESSY urls are "
    "synthesized per doc (upper-case scheme/host, scheme-default ports, "
    "doubled slashes, trailing slashes, utm_*/tracking params mixed into "
    "real params, fragments), canonicalized with the pure-Column "
    "normalizer (functions/urls.py:canonicalize_url — lower scheme+host, "
    "strip :80/:443, collapse //, drop trailing slash and fragment, "
    "remove tracking params keeping real ones in order), keyed by "
    "registrable domain (eTLD+1 incl. two-level suffixes like .co.uk), "
    "and grouped to (canonical, domain, n_docs, keep=min id). The oracle "
    "constructs the EXPECTED canonical form directly from doc_id "
    "arithmetic — the messy->canonical normalization must land exactly "
    "on it, end-to-end. All string ops are JVM-side regexp/substr "
    "expressions: canonicalization runs inside the scan at 100 TB, no "
    "UDF, and the groupBy key is the only shuffle.",
    tags=("llm", "prep", "dedup"),
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.urls import canonicalize_url, registrable_domain, split_url

    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    www = F.when(d % 2 == 0, F.lit("WWW.Site")).otherwise(F.lit("www.site"))
    tld = (
        F.when(d % 4 == 0, F.lit(".co.uk"))
        .when(d % 4 == 1, F.lit(".com"))
        .when(d % 4 == 2, F.lit(".org"))
        .otherwise(F.lit(".com"))
    )
    port = F.when(
        (d % 3 == 0) & (d % 2 == 0), F.lit(":80")
    ).when((d % 3 == 0) & (d % 2 == 1), F.lit(":443")).otherwise(F.lit(""))
    query_s = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), (d % 10).cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("?id="), (d % 10).cast("string"), F.lit("&utm_campaign=x")))
        .otherwise(F.lit(""))
    )
    messy = F.concat(
        scheme, F.lit("://"), www, (d % 5).cast("string"), tld, port,
        F.lit("/docs//"), F.col("source"), F.lit("/"), (d % 10).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        query_s,
        F.when(d % 4 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    urls = _docs(spark, sf_dir).select("doc_id", messy.alias("url"))
    canon = urls.select(
        "doc_id",
        canonicalize_url("url").alias("canonical_url"),
        registrable_domain(split_url("url")["hostport"]).alias("domain"),
    )
    return canon.groupBy("canonical_url", "domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("keep_doc_id"),
    )


@query(
    "privacy_l_diversity",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS INTEGER) AS bal_band,
             count(*) AS group_size,
             count(DISTINCT c_mktsegment) AS l_distinct
      FROM customer
      GROUP BY c_nationkey, bal_band
    )
    SELECT c_nationkey, bal_band, group_size, l_distinct,
           (l_distinct < 3) AS suppress
    FROM cells
    """,
    doc="l-diversity audit, the companion gate to privacy_k_anonymity: a "
    "quasi-identifier class can be large (k-anonymous) yet still leak if "
    "every member shares the same sensitive value, so each (nation, "
    "balance-band) class is checked for >= l distinct sensitive values "
    "(market segment here, l=3). One map-side-combined groupBy with a "
    "count-distinct — at 100 TB the distinct runs as a partial-aggregate "
    "two-phase plan on the same single shuffle of QI cells; the flag is "
    "row-local.",
    tags=("llm", "prep", "privacy"),
)
def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        )
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("c_mktsegment").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "bal_band",
            "group_size",
            "l_distinct",
            (F.col("l_distinct") < 3).alias("suppress"),
        )
    )


@query(
    "privacy_t_closeness",
    oracle="""
    WITH cv AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS INTEGER) AS bal_band,
             c_mktsegment AS seg, count(*) AS cnt
      FROM customer GROUP BY c_nationkey, bal_band, seg
    ),
    tot AS (SELECT seg, sum(cnt) AS tv FROM cv GROUP BY seg),
    n AS (SELECT sum(tv) AS n FROM tot),
    g AS (SELECT c_nationkey, bal_band, sum(cnt) AS g
          FROM cv GROUP BY c_nationkey, bal_band),
    terms AS (
      SELECT cv.c_nationkey, cv.bal_band,
             abs(n.n * cv.cnt - g.g * tot.tv) - g.g * tot.tv AS term
      FROM cv JOIN tot USING (seg)
      JOIN g ON cv.c_nationkey = g.c_nationkey AND cv.bal_band = g.bal_band
      CROSS JOIN n
    )
    SELECT g.c_nationkey, g.bal_band,
           CAST(g.g AS BIGINT) AS group_size,
           CAST(sum(term) + g.g * max(n.n) AS BIGINT) AS tvd_num,
           CAST(sum(term) + g.g * max(n.n) AS BIGINT)
             / (2.0 * g.g * max(n.n)) AS tvd,
           (2 * CAST(sum(term) + g.g * max(n.n) AS BIGINT) > g.g * max(n.n)) AS suppress
    FROM terms JOIN g ON terms.c_nationkey = g.c_nationkey
                      AND terms.bal_band = g.bal_band
    CROSS JOIN n
    GROUP BY g.c_nationkey, g.bal_band, g.g
    """,
    doc="t-closeness audit, the third privacy gate after privacy_k_anonymity "
    "and privacy_l_diversity: an equivalence class can be large AND "
    "diverse yet still leak if its sensitive-value DISTRIBUTION differs "
    "from the table's (skewed segment mix in one (nation, balance-band) "
    "cell reveals membership odds). Distance = total variation "
    "0.5*sum|p(v|cell) - p(v)|, kept INTEGER-exact by cross-multiplying: "
    "tvd_num = sum_v |N*cnt_v - g*tot_v| over ALL segment values — absent "
    "values folded in closed form (their sum is g*N minus the present "
    "values' g*tot_v), so no dense value-spine join is ever built. "
    "Suppression (t = 0.25) compares integers (2*tvd_num > g*N), immune "
    "to float rounding. Plan: one shuffle of (QI, value) cells, two "
    "re-aggregations of that bounded frame, a broadcast of the "
    "|values|-row marginal and the 1-row N — table size only pays the "
    "first map-side-combined groupBy.",
    tags=("llm", "prep", "privacy"),
)
def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cv = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").alias("cnt"))
    tot = cv.groupBy("seg").agg(F.sum("cnt").alias("tv"))
    n = tot.agg(F.sum("tv").alias("n"))
    g = cv.groupBy("c_nationkey", "bal_band").agg(F.sum("cnt").alias("g"))
    terms = (
        cv.join(F.broadcast(tot), "seg")
        .join(g, ["c_nationkey", "bal_band"])
        .crossJoin(F.broadcast(n))
        .select(
            "c_nationkey",
            "bal_band",
            "g",
            "n",
            (
                F.abs(F.col("n") * F.col("cnt") - F.col("g") * F.col("tv"))
                - F.col("g") * F.col("tv")
            ).alias("term"),
        )
    )
    out = terms.groupBy("c_nationkey", "bal_band", "g", "n").agg(
        F.sum("term").alias("s")
    )
    tvd_num = F.col("s") + F.col("g") * F.col("n")
    return out.select(
        "c_nationkey",
        "bal_band",
        F.col("g").cast("long").alias("group_size"),
        tvd_num.cast("long").alias("tvd_num"),
        (tvd_num.cast("long") / (2.0 * F.col("g") * F.col("n"))).alias("tvd"),
        (2 * tvd_num.cast("long") > F.col("g") * F.col("n")).alias("suppress"),
    )


@query(
    "shard_assignment_balanced",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ),
    assigned AS (
      SELECT CAST((rn - 1) % 8 AS BIGINT) AS shard, n_chars FROM ranked
    )
    SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           max(n_chars) AS max_chars, min(n_chars) AS min_chars
    FROM assigned
    GROUP BY shard
    """,
    doc="Balanced training-shard assignment: documents are totally "
    "ordered by size (largest first) and dealt round-robin into 8 "
    "shards — the classic LPT-style greedy that keeps per-shard byte "
    "totals within one max-document of each other, so no data-loader "
    "worker straggles. The global rank uses the distributed "
    "ordered_dense_ids dataflow (range-partition + per-partition "
    "row_number + P-row offset map), NOT a single-partition window — "
    "the same rank at 100 TB costs one range shuffle. Returns per-shard "
    "balance stats for the planner to verify.",
    tags=("llm", "prep", "sampling"),
)
def q_shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.dedup import ordered_dense_ids

    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", (-F.col("n_chars")).alias("neg_chars")
    )
    ranked = ordered_dense_ids(d, ["neg_chars", "doc_id"], "rid")
    return (
        ranked.select((F.col("rid") % 8).cast("bigint").alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_chars").alias("max_chars"),
            F.min("n_chars").alias("min_chars"),
        )
    )


@query(
    "curriculum_global_order",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(least(length(text) // 128, 3) AS BIGINT) AS phase,
             md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS h
      FROM documents
    )
    SELECT doc_id, phase,
           CAST(row_number() OVER (ORDER BY phase, h, doc_id) - 1 AS BIGINT) AS seq
    FROM base
    """,
    doc="Curriculum ordering with a deterministic global shuffle "
    "(operators/dedup.py:ordered_dense_ids): docs are staged into length "
    "phases (short first — the standard curriculum axis), shuffled "
    "within each phase by a salted md5 of the id (reproducible across "
    "engines and runs, unlike RNG state), and assigned a DENSE 0-based "
    "global sequence id WITHOUT a single-partition window: range-"
    "partition by the order key, per-partition row_number, plus each "
    "partition's cumulative offset (one P-row driver collect). This is "
    "the training-data ordering step — sample order is part of the "
    "training contract, so it must be total, stable, and distributed.",
    tags=("llm", "prep", "scale"),
)
def q_curriculum_global_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.dedup import ordered_dense_ids

    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(least(length(text) DIV 128, 3) AS BIGINT)").alias("phase"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":curriculum"))).alias("__h"),
    )
    out = ordered_dense_ids(base, ["phase", "__h", "doc_id"], "seq")
    return out.select("doc_id", "phase", F.col("seq").cast("bigint").alias("seq"))


_CDC_POWS = "[" + ", ".join(str(31**j) for j in range(8)) + "]"


@query(
    "text_cdc_chunking",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text AS t,
             list_prepend(1,
               CASE WHEN length(text) >= 9 THEN
                 list_filter(generate_series(2, length(text) - 7),
                   i -> (list_sum(list_transform(generate_series(0, 7),
                         j -> ord(substr(text, i + j, 1)) * ({_CDC_POWS})[j + 1])) % 64) = 0)
               ELSE [] END) AS starts
      FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(starts[i] AS BIGINT) AS start,
           CAST((CASE WHEN i < len(starts) THEN starts[i + 1]
                      ELSE length(t) + 1 END) - starts[i] AS BIGINT) AS chunk_len,
           md5(substr(t, starts[i],
               (CASE WHEN i < len(starts) THEN starts[i + 1]
                     ELSE length(t) + 1 END) - starts[i])) AS chunk_md5
    FROM b CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(starts))) AS i)
    """,
    doc="Content-defined chunking (operators/textprep.py:"
    "content_defined_chunks): Rabin-style boundaries where the "
    "polynomial hash of the preceding 8 chars is 0 mod 64 — the "
    "rsync/LBFS dedup primitive over corpus text. An insertion shifts "
    "only the chunks it touches; every chunk after the next boundary "
    "keeps its md5, so snapshot-over-snapshot dedup joins on chunk_md5 "
    "instead of re-fingerprinting edited documents end-to-end. Exact "
    "BIGINT hash arithmetic inside transform/aggregate (whole-stage "
    "codegen, no UDF); chunks provably tile each document "
    "(sum(chunk_len) = length(text), pinned in tests). No key shuffle: "
    "scan -> per-row array math -> explode, with only the doc_shingles "
    "parallelism-guard repartition of compact pre-explode rows.",
    tags=("llm", "dedup", "text"),
)
def q_text_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tp.content_defined_chunks(_docs(spark, sf_dir))


@query(
    "shard_rendezvous_hashing",
    oracle="""
    WITH scored AS (
      SELECT doc_id, s.shard,
             md5('hrw:' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(s.shard AS VARCHAR)) AS score
      FROM documents
      CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS shard) s
    ),
    per_id AS (
      SELECT doc_id,
             arg_max(shard, CASE WHEN shard < 8 THEN score END) AS base_shard,
             arg_max(shard, score) AS new_shard
      FROM scored GROUP BY doc_id
    )
    SELECT CAST(base_shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN new_shard <> base_shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM per_id GROUP BY base_shard
    """,
    doc="Rendezvous (highest-random-weight) sharding of the corpus into 8 "
    "shards with an 8->9 expansion audit "
    "(operators/sampling.py:rendezvous_shards) — the shard-count-change "
    "story shard_assignment_balanced cannot tell: LPT dealing "
    "rebalances perfectly but moves almost EVERYTHING when the shard "
    "count changes; HRW moves exactly the rows whose new-shard md5 "
    "score wins (~1/9 here), all of them INTO the new shard and none "
    "between survivors (pytest-checked). Scores are md5 hex compared "
    "lexicographically — engine-identical, no RNG. The shard axis is an "
    "exploded literal (no join); the double argmax is one map-side "
    "max_by pass per id (the base argmax NULL-masks the new shard, "
    "which max_by skips by definition).",
    tags=("llm", "prep", "sampling", "scale"),
)
def q_shard_rendezvous_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import rendezvous_shards

    return rendezvous_shards(_docs(spark, sf_dir))
