"""Scalar/vector functions (SURVEY §2.8).

The reference's distance library: euclidean (F1, the live path) plus the
weighted-euclidean variant and its weight vector (F2/F3 — defined but
only referenced from commented-out code, Spark_MOPSO_Avg.scala:1078-1096;
kept here as optional metrics, exactly as the survey prescribes).

Both driver-side numpy and Catalyst-expression renderings are provided;
the expression forms stay inside whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


# -- numpy (driver/kernel side) --------------------------------------------

def euclidean(x: np.ndarray, y: np.ndarray) -> float:
    """F1: √Σ(xᵢ−yᵢ)² (dist, Spark_MOPSO_Avg.scala:1067-1075)."""
    return float(np.sqrt(((np.asarray(x) - np.asarray(y)) ** 2).sum()))


def weight_vector(x: np.ndarray, *, variant: str = "avg") -> np.ndarray:
    """F3: wᵢ = xᵢ/Σx ('sum', Avg) or xᵢ/mean(x) ('avg'... the Particle
    variant divides by the mean: Spark_MOPSO_Particle.scala:823-833;
    Avg divides by the sum: Spark_MOPSO_Avg.scala:1078-1085)."""
    x = np.asarray(x, dtype=np.float64)
    if variant == "sum":
        return x / x.sum()
    if variant == "avg":
        return x / x.mean()
    raise ValueError(f"unknown weight variant: {variant}")


def weighted_euclidean(x: np.ndarray, y: np.ndarray, *, variant: str = "sum") -> float:
    """F2: √Σ(xᵢ−yᵢ)²·wᵢ with w from :func:`weight_vector` of x
    (Spark_MOPSO_Avg.scala:1088-1096)."""
    x = np.asarray(x, dtype=np.float64)
    w = weight_vector(x, variant=variant)
    return float(np.sqrt((((x - np.asarray(y)) ** 2) * w).sum()))


# -- Catalyst expressions ---------------------------------------------------

def euclidean_expr(a: str | Column, b: str | Column) -> Column:
    """F1 as a pure expression over two array<double> columns: the
    squared differences folded left to right in dimension order, then
    one sqrt."""
    return F.sqrt(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v)
    )
