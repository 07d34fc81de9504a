"""Least-squares fits and simple linear regression.

Reference (private/least-squares-fit.rkt, slr.rkt). All fit modes
there are closed forms in data sums — ideal for Spark: the sums are
one distributed, map-side-combinable aggregate; the final
coefficient arithmetic is O(1). No MLlib, no iteration, no collect
of data rows.

Modes (least-squares-fit.rkt:297-360):
  linear       Y = a0 + a1·X           (polynomial degree 1)
  polynomial   Y = Σ ai·X^i            (normal equations, Vandermonde
                                        moments; ref :34-41)
  exponential  Y = a·e^(bX) + c        (equal-weight variant, ref
                                        :96-121; ys shifted by
                                        -miny+0.1 when miny < 0.1,
                                        c = miny-0.1 then)
  logarithmic  Y = a + b·ln X          (ref :156-168)
  power        Y = a·X^b               (ref :183-196)

Residual = Σ(y - ŷ)² (ref :226-229). Degree <= 2 coefficient math is
expressed in Column arithmetic (Cramer's rule) so a SQL oracle can
reproduce it bit-for-bit; higher degrees solve the (d+1)×(d+1)
normal system driver-side with numpy from the same distributed
moments (the matrix is tiny; the data never leaves the executors).

Simulated-annealing refinement (ref :128-146, :205-221) is a
driver-side loop whose goal function is the distributed residual
aggregate; it is exposed but off by default (non-deterministic, as
in the reference).
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_frame_spark.exact import dsum


@dataclass
class FitResult:
    """Counterpart of the reference's ``least-squares-fit`` struct
    (least-squares-fit.rkt:233-248): applicable fit function +
    coefficients + optional residual."""

    type: str
    coefficients: list[float]
    residual: float | None = None

    def predict(self, x: Column) -> Column:
        c = self.coefficients
        if self.type in ("linear", "polynomial"):
            expr = F.lit(0.0)
            for i, a in enumerate(c):
                expr = expr + F.lit(a) * F.pow(x, F.lit(float(i)))
            return expr
        if self.type == "exponential":
            a, b, cc = c
            return F.lit(a) * F.exp(F.lit(b) * x) + F.lit(cc)
        if self.type == "logarithmic":
            a, b = c
            return F.lit(a) + F.lit(b) * F.log(x)
        if self.type == "power":
            a, b = c
            return F.lit(a) * F.pow(x, F.lit(b))
        raise ValueError(self.type)

    def __call__(self, x: float) -> float:
        c = self.coefficients
        if self.type in ("linear", "polynomial"):
            return sum(a * x**i for i, a in enumerate(c))
        if self.type == "exponential":
            return c[0] * math.exp(c[1] * x) + c[2]
        if self.type == "logarithmic":
            return c[0] + c[1] * math.log(x)
        if self.type == "power":
            return c[0] * x ** c[1]
        raise ValueError(self.type)


def _xy(df: DataFrame, xcol: str, ycol: str):
    x = F.col(xcol).cast("double")
    y = F.col(ycol).cast("double")
    return df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x"), y.alias("__y")
    )


def _collect_one(df: DataFrame) -> dict:
    return df.collect()[0].asDict()


def least_squares_fit(
    df: DataFrame,
    xcol: str,
    ycol: str,
    mode: str = "linear",
    degree: int = 2,
    residual: bool = False,
    annealing: bool = False,
    iterations: int = 500,
    scale: int = 6,
) -> FitResult:
    """``df-least-squares-fit`` (least-squares-fit.rkt:297-360).

    One aggregate job computes every moment the mode needs; the
    coefficient arithmetic happens on those scalars.
    """
    d = _xy(df, xcol, ycol)
    X, Y = F.col("__x"), F.col("__y")

    if mode == "linear":
        mode, degree = "polynomial", 1

    if mode in ("polynomial", "poly"):
        moments = d.agg(
            F.count(F.lit(1)).alias("n"),
            *[dsum(F.pow(X, F.lit(float(k))), scale).alias(f"sx{k}") for k in range(1, 2 * degree + 1)],
            dsum(Y, scale).alias("sy"),
            *[dsum(F.pow(X, F.lit(float(k))) * Y, scale).alias(f"sxy{k}") for k in range(1, degree + 1)],
        )
        m = _collect_one(moments)
        import numpy as np

        size = degree + 1
        sx = [float(m["n"])] + [m[f"sx{k}"] for k in range(1, 2 * degree + 1)]
        A = np.array([[sx[i + j] for j in range(size)] for i in range(size)])
        b = np.array([m["sy"]] + [m[f"sxy{k}"] for k in range(1, degree + 1)])
        coeff = list(np.linalg.solve(A, b))
        fit = FitResult("polynomial" if degree > 1 else "linear", [float(c) for c in coeff])

    elif mode in ("exp", "exponential"):
        miny = _collect_one(d.agg(F.min(Y).alias("m")))["m"]
        shift = (-miny + 0.1) if miny < 0.1 else 0.0
        Y1 = Y + F.lit(shift)
        lnY = F.log(Y1)
        m = _collect_one(
            d.agg(
                dsum(X * X * Y1, scale).alias("sxxy"),
                dsum(X * Y1, scale).alias("sxy"),
                dsum(Y1 * lnY, scale).alias("sylny"),
                dsum(X * Y1 * lnY, scale).alias("sxylny"),
                dsum(Y1, scale).alias("sy"),
            )
        )
        denom = m["sy"] * m["sxxy"] - m["sxy"] * m["sxy"]
        a = (m["sxxy"] * m["sylny"] - m["sxy"] * m["sxylny"]) / denom
        b = (m["sy"] * m["sxylny"] - m["sxy"] * m["sylny"]) / denom
        c = (miny - 0.1) if miny < 0.1 else 0.0
        fit = FitResult("exponential", [math.exp(a), b, c])

    elif mode in ("log", "logarithmic"):
        lnX = F.log(X)
        m = _collect_one(
            d.agg(
                F.count(F.lit(1)).alias("n"),
                dsum(Y * lnX, scale).alias("sylnx"),
                dsum(Y, scale).alias("sy"),
                dsum(lnX, scale).alias("slnx"),
                dsum(lnX * lnX, scale).alias("slnx2"),
            )
        )
        n = float(m["n"])
        b = (n * m["sylnx"] - m["sy"] * m["slnx"]) / (n * m["slnx2"] - m["slnx"] * m["slnx"])
        a = (m["sy"] - b * m["slnx"]) / n
        fit = FitResult("logarithmic", [a, b])

    elif mode == "power":
        lnX, lnY = F.log(X), F.log(Y)
        m = _collect_one(
            d.agg(
                F.count(F.lit(1)).alias("n"),
                dsum(lnX * lnY, scale).alias("slxly"),
                dsum(lnX, scale).alias("slx"),
                dsum(lnY, scale).alias("sly"),
                dsum(lnX * lnX, scale).alias("slx2"),
            )
        )
        n = float(m["n"])
        b = (n * m["slxly"] - m["slx"] * m["sly"]) / (n * m["slx2"] - m["slx"] * m["slx"])
        a = (m["sly"] - b * m["slx"]) / n
        fit = FitResult("power", [math.exp(a), b])

    else:
        raise ValueError(f"unknown fit mode {mode!r}")

    if annealing and fit.type in ("exponential", "power"):
        fit = _anneal(fit, d, iterations, scale)
    if residual:
        fit.residual = fit_residual(d, fit, scale)
    return fit


def fit_residual(d: DataFrame, fit: FitResult, scale: int = 6) -> float:
    """Σ(y − ŷ)² as a distributed aggregate (ref :226-229)."""
    yhat = fit.predict(F.col("__x"))
    err = F.col("__y") - yhat
    return _collect_one(d.agg(dsum(err * err, scale).alias("r")))["r"]


def _anneal(fit: FitResult, d: DataFrame, iterations: int, scale: int) -> FitResult:
    """Simulated-annealing refinement (ref :128-146): multiplicative
    neighbour jitter, goal = distributed residual. Probabilistic, as
    in the reference."""
    best = list(fit.coefficients)
    best_cost = fit_residual(d, FitResult(fit.type, best), scale)
    state, cost = list(best), best_cost
    for i in range(iterations):
        temp = 1.0 - i / iterations
        cand = [c * (1 + temp * (2 * random.random() - 1)) for c in state]
        cand_cost = fit_residual(d, FitResult(fit.type, cand), scale)
        if cand_cost < cost or random.random() < math.exp(
            -(cand_cost - cost) / max(temp, 1e-9)
        ):
            state, cost = cand, cand_cost
            if cost < best_cost:
                best, best_cost = list(state), cost
    return FitResult(fit.type, best)


# ---------------------------------------------------------------------------
# Column-expression closed forms (oracle-reproducible, no driver math)
# ---------------------------------------------------------------------------

def linear_fit_df(df: DataFrame, xcol: str, ycol: str, scale: int = 6) -> DataFrame:
    """Degree-1 fit as a 1-row DataFrame (a0, a1) via Cramer's rule on
    the normal equations — pure Column arithmetic, SQL-twinnable:
      | n   Σx  | |a0|   |Σy |
      | Σx  Σx² | |a1| = |Σxy|
    """
    d = _xy(df, xcol, ycol)
    X, Y = F.col("__x"), F.col("__y")
    agg = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(X, scale).alias("sx"),
        dsum(X * X, scale).alias("sx2"),
        dsum(Y, scale).alias("sy"),
        dsum(X * Y, scale).alias("sxy"),
    )
    det = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    a0 = (F.col("sy") * F.col("sx2") - F.col("sx") * F.col("sxy")) / det
    a1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    return agg.select(a0.alias("a0"), a1.alias("a1"))


def slr_df(df: DataFrame, xcol: str, ycol: str, scale: int = 6) -> DataFrame:
    """``simple-linear-regression`` (slr.rkt:32-39): alpha, beta, r.
    beta = r·σy/σx, alpha = ȳ − beta·x̄, r = sample correlation —
    all from exact sums, mirroring the statistics-accumulator
    definitions (sample stddev, n−1)."""
    d = _xy(df, xcol, ycol)
    X, Y = F.col("__x"), F.col("__y")
    agg = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(X, scale).alias("sx"),
        dsum(Y, scale).alias("sy"),
        dsum(X * X, scale).alias("sx2"),
        dsum(Y * Y, scale).alias("sy2"),
        dsum(X * Y, scale).alias("sxy"),
    )
    n = F.col("n")
    covn = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vxn = F.col("sx2") - F.col("sx") * F.col("sx") / n
    vyn = F.col("sy2") - F.col("sy") * F.col("sy") / n
    r = covn / F.sqrt(vxn * vyn)
    beta = r * F.sqrt(vyn / vxn)
    alpha = F.col("sy") / n - beta * F.col("sx") / n
    return agg.select(alpha.alias("alpha"), beta.alias("beta"), r.alias("r"))
