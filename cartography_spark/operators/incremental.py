"""Incremental aggregate maintenance: keep a pre-aggregated summary table
current by merging only a delta batch, never rescanning the full base.

The reference recomputes every analysis from scratch each sync (full-snapshot
model, /root/reference/cartography/sync.py:494-496); at 100 TB that full
rescan is the bottleneck, so the scale path is a *mergeable partial
aggregate*: each batch is collapsed to one row per group of
(count, sum, min, max) partials, and ``merge_partials`` folds any number of
partial tables into the same shape with a tiny groupBy. The merge cost is
proportional to |delta| + |summary| — independent of the base table size —
and the partials are associative/commutative, so they also merge across
days, partitions, or clusters.

All sums are carried as bigint "cents" (``round(x * 100)``) so the merge
order cannot perturb float results: the maintained summary is bit-identical
to a full recompute (verified by the ``incremental_agg_maintenance`` oracle).

Same algebra as operators/rollup.py's time-hierarchy rollup, generalized to
arbitrary grouping keys and metric columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cents(col: str) -> F.Column:
    """Exact integer representation of a 2-decimal monetary/quantity value."""
    return F.round(F.col(col) * 100).cast("bigint")


def partial_aggregate(df: DataFrame, keys: list[str], metrics: list[str]) -> DataFrame:
    """Collapse a batch to one mergeable partial row per group.

    Emits, per metric m: ``m_sum_cents`` / ``m_min_cents`` / ``m_max_cents``
    (bigint) plus a shared ``n_rows`` count. Map-side combine does most of
    the work before the single shuffle on ``keys``.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for m in metrics:
        aggs += [
            F.sum(cents(m)).alias(f"{m}_sum_cents"),
            F.min(cents(m)).alias(f"{m}_min_cents"),
            F.max(cents(m)).alias(f"{m}_max_cents"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(partials: list[DataFrame], keys: list[str], metrics: list[str]) -> DataFrame:
    """Fold partial tables into one summary of the identical shape.

    count/sum re-sum; min/max re-min/re-max — the classic aggregate algebra,
    so ``merge(partial(A), partial(B)) == partial(A union B)`` exactly
    (bigint arithmetic, no float reordering error).
    """
    unioned = partials[0]
    for p in partials[1:]:
        unioned = unioned.unionByName(p)
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in metrics:
        aggs += [
            F.sum(f"{m}_sum_cents").alias(f"{m}_sum_cents"),
            F.min(f"{m}_min_cents").alias(f"{m}_min_cents"),
            F.max(f"{m}_max_cents").alias(f"{m}_max_cents"),
        ]
    return unioned.groupBy(*keys).agg(*aggs)


def cdc_apply(changelog: DataFrame, key_cols: list[str]) -> DataFrame:
    """Apply an insert/update/delete changelog to produce the current
    snapshot: the highest-``seq`` change per key wins; a terminal
    'D' is a tombstone that removes the key. Contract: (keys, seq) is
    unique — the usual CDC log invariant.

    The winner is picked with a single mergeable ``max_by(payload, seq)``
    aggregate — map-side combinable, no per-key window sort, no join
    against the previous snapshot — so applying a day of changes to a
    100 TB table costs one shuffle of the CHANGELOG only. This is the
    incremental counterpart to the reference's full-snapshot sync
    (/root/reference/cartography/sync.py:494-496): same end state,
    cost proportional to the delta.
    """
    payload = [c for c in changelog.columns if c not in (*key_cols, "seq", "op")]
    latest = changelog.groupBy(*key_cols).agg(
        F.max_by(F.struct("op", *payload), F.col("seq")).alias("__last")
    )
    return latest.filter(F.col("__last.op") != "D").select(
        *key_cols, *[F.col(f"__last.{c}").alias(c) for c in payload]
    )


def delta_join(
    base_a: DataFrame,
    delta_a: DataFrame,
    base_b: DataFrame,
    delta_b: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental JOIN maintenance: the delta of an equi-join when both
    inputs receive inserts —

        delta(A JOIN B) = dA JOIN B  UNION ALL  A JOIN dB
                          UNION ALL  dA JOIN dB

    Appending this to the stored join result M = A JOIN B reproduces
    (A+dA) JOIN (B+dB) exactly, without rejoining the base relations:
    the three delta joins each have one delta-sized side, so maintaining
    a 100 TB join under a 0.1% daily delta costs ~0.1% of the full join
    (the view-maintenance identity behind every IVM system; the
    aggregate analogue is partial_aggregate/merge_partials above).
    """
    return (
        delta_a.join(base_b, on)
        .unionByName(base_a.join(delta_b, on))
        .unionByName(delta_a.join(delta_b, on))
    )
