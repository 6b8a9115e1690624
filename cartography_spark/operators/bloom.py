"""Bloom-filter join prefiltering — the classic shuffle-reduction move
for a selective join at 100 TB: reduce the SMALL side's key domain to an
m-bit Bloom bitset (one tiny job), then filter the BIG side with a
literal predicate inside its scan stage BEFORE any join/shuffle, and
finish with the exact join (which eliminates the Bloom's false
positives, so end-to-end results are identical to the plain join —
Bloom filters have no false negatives).

Engine-portable determinism: bit positions are md5-derived
(``conv(substr(md5(i:x),1,8),16,10) % m`` — the repo-wide hash
convention, see operators/dedup.py), so the DuckDB oracle reproduces the
exact bitset and the exact prefilter-kept row count.

Scale notes:
- The bitset collect is a scalar reduction (m/8 bytes, 128 B at
  m = ``BLOOM_BITS`` = 1024) — the same driver-side tiny-broadcast pattern as
  Spark's own runtime bloom pushdown
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``, which covers the
  production path with an opaque JVM sketch; this operator exists for
  engine-portable, oracle-verifiable semantics).
- The membership test compiles to k substring probes of a literal
  string inside WholeStageCodegen: no join, no shuffle, no exchange is
  added to the big side's stage, and Parquet row groups still benefit
  from whatever pushable predicates surround it.
- The bitset is represented as an m-char '0'/'1' string: at m=1024
  that is codegen-friendly; for much larger m use Spark's runtime
  filter instead of a literal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.operators.dedup import portable_hash32

BLOOM_BITS = 1024
BLOOM_HASHES = 3


def _bit_pos(col: F.Column, i: int, m: int) -> F.Column:
    return portable_hash32(F.concat(F.lit(f"{i}:"), col.cast("string"))) % m


def bloom_build(small: DataFrame, key: str) -> str:
    """Build the BLOOM_BITS-bit Bloom bitset of ``small[key]`` as a '0'/'1'
    string. Distributed part: BLOOM_HASHES hash projections + a distinct on at
    most BLOOM_BITS integers; the driver only ever sees <=BLOOM_BITS bits."""
    probes = F.explode(F.array(*[F.lit(j) for j in range(BLOOM_HASHES)])).alias("i")
    bits = (
        small.select(F.col(key).cast("string").alias("v"), probes)
        .select(
            (
                portable_hash32(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("v")))
                % BLOOM_BITS
            ).alias("b")
        )
        .distinct()
        .collect()
    )
    out = ["0"] * BLOOM_BITS
    for r in bits:
        out[r.b] = "1"
    return "".join(out)


def bloom_might_contain(col: F.Column, bitset: str) -> F.Column:
    """Predicate: all BLOOM_HASHES bit positions of ``col`` are set in ``bitset``.
    A literal-string probe — stays inside the scan stage's codegen."""
    m = len(bitset)
    lit = F.lit(bitset)
    cond = F.lit(True)
    for i in range(BLOOM_HASHES):
        cond = cond & (F.substring(lit, _bit_pos(col, i, m) + 1, 1) == "1")
    return cond


def bloom_prefilter(big: DataFrame, small: DataFrame, big_key: str, small_key: str) -> DataFrame:
    """Filter ``big`` down to rows whose ``big_key`` might be in
    ``small[small_key]`` — no shuffle, no false negatives."""
    bitset = bloom_build(small, small_key)
    return big.filter(bloom_might_contain(F.col(big_key), bitset))
