"""Range (interval) join — match left rows to right rows whose timestamp
falls in a bounded window before the left timestamp.

The naive plan is a theta join (``r.ts BETWEEN l.ts - w AND l.ts``):
Spark can only execute the non-equi condition as a broadcast nested loop
(or worse, with only the key as equi-part, a skewed per-key cross
product). The scale path is TIME BUCKETIZATION: quantize both sides to
``window``-sized epochs; a right row can then only match left rows in its
own bucket or the next one, so exploding the LEFT side to (bucket-1,
bucket) probes restores a pure EQUI join on (key, bucket) — hash
join / shuffle join, 2x left fan-out, exact filter afterwards. This is
the standard interval-bucketing rewrite range-join engines apply
internally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_backward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    window_seconds: int,
    right_cols: tuple[str, ...],
) -> DataFrame:
    """Inner-join each left row to every right row with the same key and
    ``left.ts - window <= right.ts <= left.ts``. Equi-join on
    (key, time-bucket) with a 2-bucket probe explode on the left."""
    w = F.lit(window_seconds)
    lb = F.floor(F.unix_timestamp(F.col(ts)) / w)
    rb = F.floor(F.unix_timestamp(F.col(ts)) / w)
    lt = left.withColumn("__b", F.explode(F.array(lb - 1, lb))).withColumn(
        "__lts", F.col(ts)
    )
    rt = right.select(
        F.col(by),
        rb.alias("__b"),
        F.col(ts).alias("r_" + ts),
        *[F.col(c).alias("r_" + c) for c in right_cols],
    )
    joined = lt.join(rt, [by, "__b"])
    rts = F.col("r_" + ts)
    exact = (rts <= F.col("__lts")) & (
        rts >= F.col("__lts") - F.make_dt_interval(secs=w.cast("double"))
    )
    return joined.filter(exact).drop("__b", "__lts")
