"""Nearest-centroid assignment (SURVEY J1) — the engine's inner join.

The reference's broadcast nested-loop theta-join + per-row argmin
(calPartitionKmeans, Spark_MOPSO_Avg.scala:660-675) becomes an
Arrow-vectorized pandas UDF: the centers matrix (k×d doubles — control
state, not data) ships inside the serialized UDF closure, i.e. an
implicit broadcast; per batch the kernel computes a full (n×k) distance
matrix in numpy and takes the row argmin. Ties break to the first
minimum, matching ``minBy`` (Spark_MOPSO_Avg.scala:672).

Scale: O(N·k·d) flops, embarrassingly parallel, zero shuffle — each
input partition maps 1:1 to an output partition. At 100 TB this is a
single map stage whose plan is `Scan parquet → Project → MapInPandas`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from mopso_engine.worker import prepare


def _distances(block: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """(n,d) × (k,d) → (n,k) euclidean distances, one BLAS gemm:
    √max(‖x‖² − 2x·c + ‖c‖², 0) — the clamp drops tiny negatives from FP
    error."""
    sq = (block * block).sum(axis=1)[:, None] - 2.0 * block @ centers.T + (centers * centers).sum(axis=1)
    np.maximum(sq, 0.0, out=sq)
    return np.sqrt(sq, out=sq)


def _distances_exact(block: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """(n,k) distances via the textbook Σ(x−c)² formula — bitwise closer to
    a sequential-fold oracle than the gemm trick; used where results are
    hash-compared against an external oracle."""
    diff = block[:, None, :] - centers[None, :, :]
    return np.sqrt(np.einsum("nkd,nkd->nk", diff, diff))


def assign(points: DataFrame, centers: np.ndarray, *, exact_math: bool = False) -> DataFrame:
    """points(id, features, ...) → (id, cluster, dist); cluster is 1-based.

    ``exact_math=True`` uses the Σ(x−c)² formulation (slower, reproducible
    against SQL oracles); default uses the BLAS form (the scale path).
    """
    c = np.asarray(centers, dtype=np.float64)
    if c.ndim != 2:
        raise ValueError(f"centers must be (k,d), got {c.shape}")
    dist_fn = _distances_exact if exact_math else _distances

    out_schema = StructType(
        [
            StructField("id", points.schema["id"].dataType, False),
            StructField("cluster", IntegerType(), False),
            StructField("dist", DoubleType(), False),
        ]
    )

    def kernel(batches):
        prepare()
        for pdf in batches:
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            d = dist_fn(x, c)
            idx = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cluster": (idx + 1).astype(np.int32),
                    "dist": d[np.arange(len(idx)), idx],
                }
            )

    return points.select("id", "features").mapInPandas(kernel, schema=out_schema)


def assign_with_labels(points: DataFrame, centers: np.ndarray, **kw) -> DataFrame:
    """Assignment joined back to the ground-truth label (for purity/accuracy).

    The join is on the stable id; at scale Catalyst turns it into a
    shuffle-free zip when both sides share lineage, otherwise a standard
    sort-merge — still one shuffle, not the reference's per-class job storm
    (Spark_MOPSO_Avg.scala:342-348).
    """
    return assign(points, centers, **kw).join(points.select("id", "label"), "id")


def assign_all_solutions(
    points: DataFrame, centers_stack: np.ndarray, *, exact_math: bool = False
) -> DataFrame:
    """Multi-candidate assignment: (id, solution, cluster, dist) for a whole
    swarm in ONE pass over the data (SURVEY §3.4 — replaces the reference's
    per-particle passes). centers_stack: (S, k, d). ``exact_math`` as in
    :func:`assign` — use when the result is hash-compared to a SQL oracle.
    """
    cs = np.asarray(centers_stack, dtype=np.float64)
    s, k, d_ = cs.shape
    flat = cs.reshape(s * k, d_)
    dist_fn = _distances_exact if exact_math else _distances

    out_schema = StructType(
        [
            StructField("id", points.schema["id"].dataType, False),
            StructField("solution", IntegerType(), False),
            StructField("cluster", IntegerType(), False),
            StructField("dist", DoubleType(), False),
        ]
    )

    def kernel(batches):
        prepare()
        for pdf in batches:
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            n = x.shape[0]
            dists = dist_fn(x, flat).reshape(n, s, k)
            idx = dists.argmin(axis=2)  # (n, s)
            best = np.take_along_axis(dists, idx[:, :, None], axis=2)[:, :, 0]
            ids = np.repeat(pdf["id"].to_numpy(), s)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "solution": np.tile(np.arange(s, dtype=np.int32), n),
                    "cluster": (idx + 1).astype(np.int32).ravel(),
                    "dist": best.ravel(),
                }
            )

    return points.select("id", "features").mapInPandas(kernel, schema=out_schema)


def assign_expr(points: DataFrame, centers: np.ndarray) -> DataFrame:
    """Pure-Catalyst assignment (no Python at runtime): centers become a
    literal array-of-structs, distance is `aggregate(zip_with(...))`, and
    the argmin is `array_min` + `filter`. Stays inside whole-stage codegen;
    useful as a cross-check of the pandas kernel and for SQL-pushdown demos.
    """
    c = np.asarray(centers, dtype=np.float64)
    centers_lit = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("cluster"),
                F.array(*[F.lit(float(v)) for v in c[i]]).alias("center"),
            )
            for i in range(c.shape[0])
        ]
    )
    dist_to = lambda center: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with("features", center, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    scored = points.withColumn(
        "scored",
        F.transform(
            centers_lit,
            lambda s: F.struct(s["cluster"].alias("cluster"), dist_to(s["center"]).alias("dist")),
        ),
    )
    best = F.array_sort(
        F.col("scored"),
        lambda a, b: F.when(a["dist"] < b["dist"], -1)
        .when(a["dist"] > b["dist"], 1)
        .otherwise(a["cluster"] - b["cluster"]),
    )[0]
    return scored.select(
        "id",
        best["cluster"].alias("cluster"),
        best["dist"].alias("dist"),
    )
