"""As-of (point-in-time) join — the temporal operator Spark lacks as a
built-in, expressed as a union-merge instead of a range join.

For each left row, attach the latest right row with the same key and
``right.ts <= left.ts`` (backward as-of). The naive formulations are a
theta join (``r.ts <= l.ts`` — quadratic per key) or a windowed
row_number over that join; both explode at scale. The union-merge trick
is linear: interleave both sides into one stream ordered by (ts, side)
within each key, then carry the right side's payload forward with
``last(ignorenulls)`` — exactly the sorted-merge an ASOF join engine
(e.g. kdb, DuckDB ASOF) performs, here as ONE hash shuffle on the key +
a per-partition sort, no join node at all.

Ties: a right row at exactly left.ts is visible (sorts first via the side
flag); among right rows sharing (key, ts), the highest tie-column value
wins (deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: tuple[str, ...],
    tie_col: str | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: left columns + ``prefix+ts`` / ``prefix+c`` for
    each payload column, null when no right row precedes the left row."""
    lt = left.withColumn("__ts", F.col(ts)).withColumn("__side", F.lit(1)).withColumn(
        "__tie", F.lit(0).cast("long")
    )
    rt = right.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        (F.col(tie_col) if tie_col else F.lit(0)).cast("long").alias("__tie"),
        F.col(ts).alias(prefix + ts),
        *[F.col(c).alias(prefix + c) for c in value_cols],
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy("__ts", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(prefix + c, ignorenulls=True).over(w).alias(prefix + c)
        for c in (ts, *value_cols)
    ]
    return u.select(*left.columns, F.col("__side"), *carried).filter(F.col("__side") == 1).drop(
        "__side"
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: tuple[str, ...],
    prefix: str = "asof_",
) -> DataFrame:
    """Forward as-of join: attach the EARLIEST right row with the same key
    and ``right.ts >= left.ts`` (the "next event" direction kdb calls aj0's
    mirror). Same union-merge plan as the backward form — one shuffle on the
    key, per-partition sort, zero join nodes — with the sort reversed: the
    stream runs in DESCENDING ts, so ``last(ignorenulls)`` carries the
    nearest following right row backward onto each left row.

    Ties: a right row at exactly left.ts is visible; among right rows
    sharing (key, ts), the LOWEST ``event_id`` wins (deterministic
    mirror of the backward form's highest-wins).
    """
    lt = left.withColumn("__ts", F.col(ts)).withColumn("__side", F.lit(1)).withColumn(
        "__tie", F.lit(0).cast("long")
    )
    rt = right.select(
        F.col(by),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col("event_id").cast("long").alias("__tie"),
        F.col(ts).alias(prefix + ts),
        *[F.col(c).alias(prefix + c) for c in value_cols],
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("__ts").desc(), F.col("__side").asc(), F.col("__tie").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(prefix + c, ignorenulls=True).over(w).alias(prefix + c)
        for c in (ts, *value_cols)
    ]
    return u.select(*left.columns, F.col("__side"), *carried).filter(F.col("__side") == 1).drop(
        "__side"
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: tuple[str, ...],
    left_id: str,
) -> DataFrame:
    """Nearest as-of join: attach whichever same-key right row is closer
    in time, looking BOTH directions; exact-distance ties go to the
    backward (at-or-before) match — kdb's aj "nearest" variant. Composes
    the two union-merge passes above (one shuffle each) with a final
    equi-join on ``left_id``; per-direction tie rules are inherited, so
    the result stays fully deterministic.
    """
    b = asof_join_backward(left, right, by, ts, value_cols, "event_id", prefix="__b_")
    f = asof_join_forward(left, right, by, ts, value_cols, prefix="__f_")
    fsel = f.select(F.col(left_id), *[F.col(f"__f_{c}") for c in (ts, *value_cols)])
    j = b.join(fsel, left_id)
    # distance works for any orderable timeline: timestamps go through
    # unix_micros, numeric timelines subtract directly (the
    # backward/forward family accepts both — keep the contract uniform)
    is_ts = isinstance(left.schema[ts].dataType, TimestampType)

    def _axis(c: Column) -> Column:
        return F.unix_micros(c) if is_ts else c.cast("double")

    db = _axis(F.col(ts)) - _axis(F.col(f"__b_{ts}"))
    df = _axis(F.col(f"__f_{ts}")) - _axis(F.col(ts))
    use_b = F.when(db.isNull(), F.lit(False)).otherwise(df.isNull() | (db <= df))
    picked = [
        F.when(use_b, F.col(f"__b_{c}")).otherwise(F.col(f"__f_{c}")).alias(f"asof_{c}")
        for c in (ts, *value_cols)
    ]
    return j.select(*left.columns, *picked)


def asof_join_backward_tolerance(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: tuple[str, ...],
    tolerance: int,
    tie_col: str | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join with a maximum lookback window (pandas
    ``merge_asof(tolerance=...)`` / kdb windowed-join semantics): a match
    older than ``tolerance`` axis units (microseconds for timestamp
    columns, raw units for numeric timelines) is nulled, not carried.

    Same single-shuffle union-merge plan as :func:`asof_join_backward` —
    the tolerance is one row-local predicate applied after the
    carry-forward, so it adds zero data movement. (Applying it BEFORE the
    carry would be wrong: an out-of-window match must not resurrect an
    even older in-window one; the reference pandas semantics null it.)
    """
    out = asof_join_backward(left, right, by, ts, value_cols, tie_col, prefix)
    is_ts = isinstance(left.schema[ts].dataType, TimestampType)

    def _axis(c):
        # double (not long) for numeric timelines — matching asof_join_nearest —
        # so a fractional distance like 1.1 is not truncated under the tolerance
        return F.unix_micros(c) if is_ts else c.cast("double")

    ok = F.col(prefix + ts).isNotNull() & (
        (_axis(F.col(ts)) - _axis(F.col(prefix + ts))) <= F.lit(tolerance)
    )
    for c in (ts, *value_cols):
        out = out.withColumn(prefix + c, F.when(ok, F.col(prefix + c)))
    return out
