"""Scalar/vector functions (SURVEY §2.8).

The reference's live distance, euclidean (F1), as a Catalyst expression
that stays inside whole-stage codegen; the kernels compute it in numpy
(``assign._distances``, ``assign._distances_exact``). Its weighted variant
and weight vector (F2/F3) are not ported: the reference defines them but
calls them only from commented-out code (Spark_MOPSO_Avg.scala:1078-1096).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def euclidean_expr(a: str | Column, b: str | Column) -> Column:
    """F1 as a pure expression over two array<double> columns: the
    squared differences folded left to right in dimension order, then
    one sqrt."""
    return F.sqrt(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v)
    )
