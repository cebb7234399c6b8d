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

import pickle

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from mopso_engine.assign import _distances
from mopso_engine.pso import canonicalize_centers
from mopso_engine.worker import prepare


def sample_features(points: DataFrame, n: int, seed: int) -> np.ndarray:
    """The relational plan of the fit's init sample, kept as the oracle
    of :func:`corpus_stats`' ``sample``: order by (xxhash64(id, seed), id)
    and take n, one TakeOrderedAndProject job. The order does not depend
    on the partitioning; ``sample()`` would be seeded per partition and
    change with the layout. The fit does not call it."""
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


def _smallest(h: np.ndarray, ids: np.ndarray, x: np.ndarray, size: int):
    """The ``size`` rows smallest by (h, id), in that order. The sort is
    stable, so rows that tie on both keep their input order."""
    order = np.lexsort((ids, h))[:size]
    return h[order], ids[order], x[order]


def _stats_partial(batches, want_labels: bool, sample_size: int):
    """One partition's share of :func:`corpus_stats`, as one pickled row:
    the rows with null features, the histogram of feature-array lengths,
    the non-null labels, and, while the lengths agree, per-dimension
    min/max and the partition's ``sample_size`` rows smallest by (h, id).
    The sample is cut to that size after every Arrow batch, so a task
    never holds its whole partition. Once the lengths differ the merge
    raises, so bounds and sample are no longer kept."""
    prepare()
    nulls = 0
    lengths: dict[int, int] = {}
    lo = hi = sample = None
    labels: set = set()
    for b in batches:
        if want_labels:
            labels.update(pc.unique(b.column("label")).drop_null().to_pylist())
        feats = b.column("features")
        valid = feats.is_valid()
        if feats.null_count:
            feats = feats.filter(valid)
        lens = pc.list_value_length(feats).to_numpy()
        vals = feats.flatten()
        nulls += b.num_rows - len(lens)
        if vals.null_count:
            owner = np.repeat(np.arange(len(lens)), lens)
            nulls += len(np.unique(owner[vals.is_null().to_numpy(zero_copy_only=False)]))
        for w, c in zip(*np.unique(lens, return_counts=True)):
            lengths[int(w)] = lengths.get(int(w), 0) + int(c)
        if len(lengths) != 1 or not len(lens):
            continue
        # Spark's min (NaN only if every value is NaN) and max (NaN if any is)
        x = vals.to_numpy(zero_copy_only=False).reshape(len(lens), int(lens[0]))
        b_lo, b_hi = np.fmin.reduce(x, axis=0), x.max(axis=0)
        lo, hi = (b_lo, b_hi) if lo is None else (np.fmin(lo, b_lo), np.maximum(hi, b_hi))
        valid = valid.to_numpy(zero_copy_only=False)
        part = (b.column("h").to_numpy()[valid], b.column("id").to_numpy()[valid], x)
        if sample is not None:
            part = tuple(np.concatenate(p) for p in zip(sample, part))
        sample = part if len(part[0]) <= sample_size else _smallest(*part, sample_size)
    partial = dict(nulls=nulls, lengths=lengths, lo=lo, hi=hi, labels=labels, sample=sample)
    yield pa.RecordBatch.from_arrays([pa.array([pickle.dumps(partial)], pa.binary())], names=["partial"])


def corpus_stats(points: DataFrame, k_hint: int | None, sample_size: int, seed: int):
    """The fit's one set-up pass: ``(n, d, k, bounds, sample)`` from ONE
    ``mapInArrow`` job over ``points``, collected with ``toArrow()``.

    It fuses the reference's separate count / distinct-label / 2·d
    min-max jobs (A1+A2+A3; Spark_MOPSO_Avg.scala:89-103,1239-1252) and
    the seeded init sample. Each task emits its partition's partial
    (:func:`_stats_partial`); the driver merges them. The values are
    those of the relational plans: exact counts, Spark's min/max (a
    signed zero bound reads +0.0), k = the number of distinct non-null
    labels unless ``k_hint`` is given, and ``sample`` = the first
    ``sample_size`` rows by (``xxhash64(id, seed)``, id), in that order,
    as :func:`sample_features` returns them. So the sample does not
    depend on the partitioning, and seeded fits replay bit-identically.

    It is also the fit's ingest check: null feature arrays (or null
    values in them), ragged arrays and a non-finite value raise
    ``ValueError`` before any later job."""
    want_labels = k_hint is None
    cols = ["id", "features", F.xxhash64("id", F.lit(seed)).alias("h")] + (["label"] if want_labels else [])
    schema = StructType([StructField("partial", BinaryType(), False)])
    table = (
        points.select(*cols)
        .mapInArrow(lambda batches: _stats_partial(batches, want_labels, sample_size), schema)
        .toArrow()
    )
    # Fold the partials in one at a time, in partition order, and drop
    # each once merged: the driver holds the running merge and one
    # partial, not an unpickled copy of every partition's sample.
    nulls, lengths, labels = 0, {}, set()
    lo = hi = sample = None
    chunks = table.column("partial").chunks
    del table
    while chunks:
        for blob in chunks.pop(0).to_pylist():
            p = pickle.loads(blob)
            nulls += p["nulls"]
            for w, c in p["lengths"].items():
                lengths[w] = lengths.get(w, 0) + c
            labels |= p["labels"]
            # once the lengths differ the check below raises; stop merging
            if p["lo"] is None or len(lengths) > 1:
                continue
            lo, hi = (p["lo"], p["hi"]) if lo is None else (np.fmin(lo, p["lo"]), np.maximum(hi, p["hi"]))
            part = p["sample"] if sample is None else tuple(np.concatenate(c) for c in zip(sample, p["sample"]))
            sample = _smallest(*part, sample_size)

    if nulls:
        raise ValueError(f"null features in {nulls} rows; every row needs a features array of finite values")
    d = max(lengths, default=0)
    if d == 0:
        raise ValueError("empty points table")
    if len(lengths) > 1:
        reach = [sum(c for w, c in lengths.items() if w > j) for j in range(d)]
        j = next((j for j in range(d) if reach[j] != reach[0]), None)
        first = f"{lengths[0]} rows have no features" if j is None else f"{reach[j]} rows reach dimension {j}"
        raise ValueError(
            f"ragged feature arrays: {first}, {reach[0]} reach dimension 0; every row must have the same length"
        )
    n = lengths[d]
    k = k_hint
    if k is None:
        k = len(labels)
        if k <= 1:
            raise ValueError("cannot infer k from labels; pass MopsoConfig(k=...)")
    bounds = np.stack([lo, hi], axis=1) + 0.0
    bad = np.flatnonzero(~np.isfinite(bounds).all(axis=1))
    if len(bad):
        lo, hi = bounds[bad[0]]
        raise ValueError(
            f"non-finite feature value in dimension {bad[0]} (min {lo}, max {hi}); "
            "features must be finite"
        )
    return n, d, int(k), bounds, sample[2]
