"""Swarm initialization (SURVEY M1/M4).

* maximin / farthest-point init — the reference runs k−1 *distributed
  jobs per particle* (50 × (k−1) jobs, Spark_MOPSO_Avg.scala:1123-1187);
  we instead run it on a driver-side seeded sample (SURVEY §4.1), which
  is statistically the same and O(sample·k·d) flops: init is control
  state, not a data-scale problem.
* k-means init/baseline — ``pyspark.ml.clustering.KMeans`` (DataFrame
  API) replaces ``mllib.KMeans.train`` (Spark_MOPSO_Avg.scala:1099-1119).
* random-uniform init within per-feature bounds (MOPSO_Single.scala:548-556).

All inits return canonical center order: ascending by first coordinate
(O3, Spark_MOPSO_Avg.scala:1186).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopso_engine.assign import _distances
from mopso_engine.pso import canonicalize_centers


def sample_features(points: DataFrame, n: int, seed: int) -> np.ndarray:
    """Seeded, PARTITION-INVARIANT driver-side sample: order by
    (xxhash64(id, seed), id) and take n — a TakeOrderedAndProject (top-n,
    no global sort materialization), so the same rows come back in the
    same order regardless of how the input is partitioned. ``sample()``
    would be seeded per-partition and change with the layout."""
    rows = (
        points.select("id", "features")
        .orderBy(F.xxhash64("id", F.lit(seed)), F.col("id"))
        .limit(n)
        .collect()
    )
    return np.array([r["features"] for r in rows], dtype=np.float64)


def maximin_init(sample: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Farthest-point init on a sample (M4): random first center; each next
    center = the point maximizing the min distance to the chosen centers
    (Spark_MOPSO_Avg.scala:1123-1187, MOPSO_Single.scala:585-619)."""
    n = len(sample)
    first = int(rng.integers(0, n))
    centers = [sample[first]]
    min_d = _distances(sample, sample[first][None, :])[:, 0]
    for _ in range(1, k):
        nxt = int(min_d.argmax())
        centers.append(sample[nxt])
        d_new = _distances(sample, sample[nxt][None, :])[:, 0]
        np.minimum(min_d, d_new, out=min_d)
    return canonicalize_centers(np.stack(centers))


def random_uniform_init(bounds: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Uniform in per-feature [min, max] (MOPSO_Single.scala:548-556)."""
    lo, hi = bounds[:, 0], bounds[:, 1]
    return canonicalize_centers(rng.uniform(lo, hi, size=(k, lo.shape[0])))


def random_point_init(sample: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """k distinct sampled points as centers (MOPSO_Single.scala:538-545)."""
    idx = rng.choice(len(sample), size=k, replace=False)
    return canonicalize_centers(sample[idx])


def kmeans_centers(points: DataFrame, k: int, *, max_iter: int = 30, seed: int = 42) -> np.ndarray:
    """MLlib KMeans baseline centers (M1) — DataFrame API, maxIter=30 as in
    the reference (Spark_MOPSO_Avg.scala:1105)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = points.select(array_to_vector("features").alias("features"))
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(vecs)
    # clusterCenters() yields numpy arrays in pyspark>=4, Vectors before
    return canonicalize_centers(np.array([np.asarray(c) for c in model.clusterCenters()]))


def init_swarm(
    sample: np.ndarray,
    bounds: np.ndarray,
    k: int,
    n_particles: int,
    rng: np.random.Generator,
    *,
    method: str = "maximin",
) -> np.ndarray:
    """(S, k, d) initial positions."""
    if method == "maximin":
        return np.stack([maximin_init(sample, k, rng) for _ in range(n_particles)])
    if method == "random":
        return np.stack([random_uniform_init(bounds, k, rng) for _ in range(n_particles)])
    if method == "random_point":
        return np.stack([random_point_init(sample, k, rng) for _ in range(n_particles)])
    raise ValueError(f"unknown init method: {method}")


def corpus_stats(points: DataFrame, k_hint: int | None = None):
    """(n, d, k, bounds) in ONE scan + one tiny d-keyed shuffle — fuses
    the reference's separate count / distinct-label / 2·d min-max jobs
    (A1+A2+A3; Spark_MOPSO_Avg.scala:89-103,1239-1252). Values are
    identical to the unfused jobs (exact min/max/counts), so seeded fits
    replay bit-identically; only the job count changes.

    It is also the fit's ingest check, at no extra job: a non-finite
    bound (Spark's ``max`` is NaN when any value is NaN; ±inf shows in
    ``min`` or ``max``) or per-dimension counts that differ (ragged
    feature arrays) raise ``ValueError`` before any later job."""
    rows = (
        points.select("label", F.posexplode("features").alias("idx", "v"))
        .groupBy("idx")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count("*").alias("n"),
            F.countDistinct("label").alias("k"),
        )
        .orderBy("idx")
        .collect()
    )
    if not rows:
        raise ValueError("empty points table")
    n = rows[0]["n"]
    k = k_hint
    if k is None:
        k = rows[0]["k"]
        if k <= 1:
            raise ValueError("cannot infer k from labels; pass MopsoConfig(k=...)")
    bounds = np.array([[r["lo"], r["hi"]] for r in rows], dtype=np.float64)
    bad = np.flatnonzero(~np.isfinite(bounds).all(axis=1))
    if len(bad):
        lo, hi = bounds[bad[0]]
        raise ValueError(
            f"non-finite feature value in dimension {bad[0]} (min {lo}, max {hi}); "
            "features must be finite"
        )
    ragged = [r["idx"] for r in rows if r["n"] != n]
    if ragged:
        raise ValueError(
            f"ragged feature arrays: {rows[ragged[0]]['n']} rows reach dimension {ragged[0]}, "
            f"{n} reach dimension 0; every row must have the same length"
        )
    return int(n), len(rows), int(k), bounds
