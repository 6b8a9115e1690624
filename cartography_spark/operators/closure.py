"""Bounded transitive closure — the one genuinely "graph" operator the
reference uses: variable-length patterns ``[:REL*1..k]`` (14 use sites, e.g.
intel/googleworkspace/groups.py, intel/keycloak/inheritance.py,
analysis/ontology/analysis.py ``*0..6``; SURVEY §2.3).

Spark-first: iterative self-join to a fixed point with a hop bound and a
visited-set dedup each round (cycle protection). Each iteration is one
shuffle on the join key; frontier-only expansion keeps work proportional to
newly discovered pairs, and reached pairs are dropped from the frontier so
cycles terminate. The reference caps at 6 hops; we default the same.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.operators.fixpoint import fixpoint


def transitive_closure(
    edges: DataFrame,
    max_hops: int = 6,
    include_zero: bool = False,
) -> DataFrame:
    """All (src, dst, hops) pairs reachable in 1..max_hops steps, with
    ``hops`` = minimum hop count. ``include_zero`` adds (v, v, 0) for every
    vertex (the ``*0..`` variant).

    Each round joins the frontier (pairs found last round) against the base
    edge set, anti-joins out already-reached pairs, and checkpoints ONLY
    the new chunk — the accumulated result stays a lazy union of the
    per-hop checkpointed chunks (flat lineage, each leaf a checkpoint
    scan), so no round rewrites the whole reached set. Frontier emptiness
    comes from an observe metric gathered during the chunk's checkpoint
    job: one job per hop, total materialized bytes O(result), not
    O(result x hops).
    """
    base = edges.select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst")).distinct()
    base = base.localCheckpoint(eager=True)  # probed every round (join + anti)
    chunks = []  # every chunk a round expanded, starting with the 1-hop edges

    def _hop(frontier: DataFrame, r: int) -> DataFrame:
        chunks.append(frontier)
        grown = (
            frontier.alias("f")
            .join(base.alias("b"), F.col("f.dst") == F.col("b.src"))
            .select(F.col("f.src").alias("src"), F.col("b.dst").alias("dst"))
            .distinct()
            .withColumn("hops", F.lit(r + 2))
        )
        seen = reduce(DataFrame.unionByName, [c.select("src", "dst") for c in chunks])
        return grown.join(seen, ["src", "dst"], "left_anti")

    last, converged = fixpoint(_hop, base.withColumn("hops", F.lit(1)), max_hops - 1, F.count("*"))
    if not converged:  # the hop bound stopped the loop before ``last`` was expanded
        chunks.append(last)
    reached = reduce(DataFrame.unionByName, chunks)

    if include_zero:
        verts = base.select("src").union(base.select(F.col("dst").alias("src"))).distinct()
        zero = verts.select(F.col("src"), F.col("src").alias("dst")).withColumn("hops", F.lit(0))
        # min-hop semantics: a vertex reaching itself via a cycle keeps hops=0
        reached = zero.unionByName(reached.join(zero.select("src", "dst"), ["src", "dst"], "left_anti"))
    return reached.select(F.col("src").alias("src_id"), F.col("dst").alias("dst_id"), "hops")
