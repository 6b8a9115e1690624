"""Distributed linear-model training: full-batch gradient descent with a
hard-sigmoid (piecewise-linear) link and INTEGER fixed-point arithmetic —
the classic broadcast-weights / map-side-partial-gradient dataflow, made
engine-exact so a DuckDB oracle can replay training bit-for-bit.

Why hard-sigmoid: ``exp`` breaks cross-engine exactness; the hard sigmoid
sigma(z) = clamp(z/4 + 1/2, 0, 1) (Courbariaux et al.'s binary-net
activation; also TF-Lite's quantized sigmoid) keeps every update inside
integer floor arithmetic, like pagerank_exact's fixed-point ranks.

Dataflow per iteration (the standard full-batch GD shape at any scale):
weights are a driver-side d-vector broadcast into the scan as literals;
one aggregate computes the d gradient sums with map-side partial
aggregation (one shuffle of d partial rows per executor); the driver
applies the update. Driver state is O(d); data is scanned once per
iteration. This is exactly how parameter-broadcast GD/L-BFGS distribute
(e.g. MLlib's aggregate-based optimizers) — minus the float
non-determinism.

Floor division uses the identity fld(a, b) = (a - pmod(a, b)) / b with
pmod(a, b) = ((a % b) + b) % b, which stays exact for NEGATIVE gradients
under BOTH Spark's and DuckDB's truncated ``%`` — the subtraction makes
the final division exact, so its rounding mode can't matter.

Reference parity: cartography has no ML surface; this extends the
LLM-data-pipeline requirements (quality classifiers are trained exactly
like this over quality features).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIG_SCALE = 1_000_000  # fixed-point scale for weights and the link output


def _fld(a: Column) -> Column:
    """Exact floor of ``a / 4``, portable across truncated-'%' engines
    (see module docstring)."""
    bb = F.lit(4).cast("long")
    pmod = ((a % bb) + bb) % bb
    return (a - pmod) / bb


def hard_sigmoid_micro(z: Column) -> Column:
    """clamp(z/4 + 1/2, 0, 1) in SIG_SCALE micro-units: z is a micro-unit
    logit; output is in [0, SIG_SCALE]."""
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(SIG_SCALE).cast("long"),
            (_fld(z.cast("long")) + SIG_SCALE // 2).cast("long"),
        ),
    )


def logreg_train(
    df: DataFrame,
    feature_cols: tuple[str, ...],
    label_col: str,
    iterations: int = 3,
    lr_inv: int = 100,
) -> list[int]:
    """Train hard-sigmoid logistic regression; returns the final weights
    (micro-units), ``[bias, w_1, ..., w_d]``.

    Update rule (all integer):
      z_i     = w0 + sum_j w_j * x_ij                    (micro-units)
      err_i   = y_i * SIG_SCALE - hard_sigmoid(z_i)
      grad_j  = sum_i err_i * x_ij      (x_0 = 1)
      w_j    += fld(grad_j, n * lr_inv)                  (lr = 1/lr_inv)

    Gradient magnitude bound: |err| <= 1e6, so 64-bit sums hold up to
    ~9e12 / max|x| rows per feature — salt the aggregate into partial
    sums first if a 100 TB run ever approaches that.
    """
    n = df.count()
    d = len(feature_cols)
    w = [0] * (d + 1)
    xs = [F.lit(1).cast("long")] + [F.col(c).cast("long") for c in feature_cols]
    y = F.col(label_col).cast("long")
    for _ in range(iterations):
        z = sum((F.lit(w[j]).cast("long") * xs[j] for j in range(d + 1)), F.lit(0).cast("long"))
        err = y * SIG_SCALE - hard_sigmoid_micro(z)
        row = df.agg(
            *[F.sum(err * xs[j]).cast("long").alias(f"g{j}") for j in range(d + 1)]
        ).collect()[0]
        denom = n * lr_inv
        for j in range(d + 1):
            g = int(row[f"g{j}"])
            w[j] += (g - (((g % denom) + denom) % denom)) // denom
    return w


def logreg_score(
    df: DataFrame, weights: list[int], feature_cols: tuple[str, ...], label_col: str
) -> DataFrame:
    """1-row training report: final weights + integer-exact accuracy
    (prediction = hard_sigmoid(z) >= SIG_SCALE/2)."""
    d = len(feature_cols)
    xs = [F.lit(1).cast("long")] + [F.col(c).cast("long") for c in feature_cols]
    z = sum((F.lit(weights[j]).cast("long") * xs[j] for j in range(d + 1)), F.lit(0).cast("long"))
    pred = (hard_sigmoid_micro(z) >= SIG_SCALE // 2).cast("long")
    y = F.col(label_col).cast("long")
    agg = df.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((pred == y).cast("long")).cast("bigint").alias("n_correct"),
    )
    out = agg
    for j, wj in enumerate(weights):
        out = out.withColumn(f"w{j}", F.lit(int(wj)).cast("long"))
    return out.select(*[f"w{j}" for j in range(d + 1)], "n", "n_correct")
