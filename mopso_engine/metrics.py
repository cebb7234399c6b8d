"""Evaluation metrics (SURVEY A9-A15).

The report's heavy metrics are single Arrow kernels:

* :func:`assignment_report` — purity, inertia, DBI and cluster sizes of
  one set of centers from ONE map pass that assigns each batch and emits
  (cluster, label) → (count, Σdist, Σdist²) partials; the driver merges
  the k×labels rows and derives all four;
* :func:`silhouette_exact` — the exact O(N²) silhouette as one map job
  over row blocks of a broadcast (id-sorted) table;
* :func:`silhouette_all_solutions` — the squared-euclidean silhouette of
  a whole archive from two map passes of sufficient statistics.

The per-metric DataFrame plans (a groupBy/window each over the
assignment table (id, cluster, dist[, label])) stay as the relational
forms the tests check the kernels against. All replace the reference's
per-class job storms (k·|archive| filter+assign jobs,
Spark_MOPSO_Avg.scala:342-348, SURVEY §4.1).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from mopso_engine.worker import prepare

#: cells of ``silhouette_exact``'s (block, n, d) difference tensor per row
#: block: 4M cells, a 32 MB tensor touched once, so memory bandwidth is
#: not the limit here, and wide tables do not fall to 1-row blocks (a
#: Python step per row).
_BLOCK_CELLS_EXACT = 4_000_000


def cluster_sizes(assigned: DataFrame) -> DataFrame:
    """A8: cluster-size histogram."""
    return assigned.groupBy("cluster").agg(F.count("*").alias("n")).orderBy("cluster")


def purity_table(assigned_with_labels: DataFrame) -> DataFrame:
    """A9 (getTrueRateNew): for each true label, the modal predicted
    cluster and its count — one groupBy + one window instead of k jobs.

    Returns (label, modal_cluster, modal_count, label_total).
    Ties break to the smaller cluster id (the reference's maxBy keeps the
    first maximum in iteration order, which over a HashMap is
    nondeterministic — we pin a deterministic rule).
    """
    counts = assigned_with_labels.groupBy("label", "cluster").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("label").orderBy(F.col("cnt").desc(), F.col("cluster").asc())
    totals = Window.partitionBy("label")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("label_total", F.sum("cnt").over(totals))
        .where(F.col("rn") == 1)
        .select(
            "label",
            F.col("cluster").alias("modal_cluster"),
            F.col("cnt").alias("modal_count"),
            "label_total",
        )
        .orderBy("label")
    )


def purity_all_solutions(points: DataFrame, centers_stack) -> DataFrame:
    """A9 for a WHOLE archive in one pass: multi-solution assignment +
    one groupBy + one window — versus the reference's k·|archive| separate
    filter+assign jobs (Spark_MOPSO_Avg.scala:325-356, SURVEY §4.1).

    Returns (solution, label, modal_cluster, modal_count, label_total).
    """
    from pyspark.sql.window import Window as W

    from mopso_engine.assign import assign_all_solutions

    awl = assign_all_solutions(points, centers_stack).join(
        points.select("id", "label"), "id"
    )
    counts = awl.groupBy("solution", "label", "cluster").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("solution", "label").orderBy(F.col("cnt").desc(), F.col("cluster").asc())
    totals = W.partitionBy("solution", "label")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("label_total", F.sum("cnt").over(totals))
        .where(F.col("rn") == 1)
        .select(
            "solution",
            "label",
            F.col("cluster").alias("modal_cluster"),
            F.col("cnt").alias("modal_count"),
            "label_total",
        )
    )


def purity_accuracy(assigned_with_labels: DataFrame, n_total: int, k: int) -> tuple[float, bool]:
    """Global purity = Σ modal_count / N, accepted only when the modal
    clusters of the k labels are pairwise distinct (map size == k,
    Spark_MOPSO_Avg.scala:339-356). Returns (purity, accepted)."""
    rows = purity_table(assigned_with_labels).collect()
    acc = sum(r["modal_count"] for r in rows) / float(n_total)
    distinct = len({r["modal_cluster"] for r in rows})
    return acc, distinct == k


def inertia(assigned: DataFrame) -> float:
    """A13: Σ dist² (calInertia, Spark_MOPSO_Avg.scala:1351-1364)."""
    return assigned.agg(F.sum(F.col("dist") * F.col("dist")).alias("sse")).collect()[0]["sse"]


def within_cluster_mean_dist(assigned: DataFrame) -> DataFrame:
    """A11: cluster → avg(dist) (DBI input, Spark_MOPSO_Avg.scala:1320-1325)."""
    return assigned.groupBy("cluster").agg(F.avg("dist").alias("mean_dist")).orderBy("cluster")


def davies_bouldin(assigned: DataFrame, centers: np.ndarray, *, max_not_reset: bool = False) -> float:
    """A12: DBI = avg_i max_{j≠i} (s_i+s_j)/d(c_i,c_j).

    One Spark aggregate (A11) + the k×k driver loop of :func:`_dbi`.
    """
    s = np.zeros(len(centers))
    for r in within_cluster_mean_dist(assigned).collect():
        s[r["cluster"] - 1] = r["mean_dist"]
    return _dbi(s, centers, max_not_reset)


def _dbi(s: np.ndarray, centers: np.ndarray, max_not_reset: bool) -> float:
    """DBI from the per-cluster mean distances ``s`` (0 for an empty
    cluster) and the k centers. The reference never resets the inner
    ``max`` across i (Spark_MOPSO_Avg.scala:1317,1326-1340) — so each
    term is a running max over ALL pairs seen so far; reproduced with
    ``max_not_reset=True``."""
    k = len(centers)
    c = np.asarray(centers, dtype=np.float64)
    total = 0.0
    running = 0.0
    for i in range(k):
        m = running if max_not_reset else 0.0
        for j in range(k):
            if i == j:
                continue
            d = float(np.sqrt(((c[i] - c[j]) ** 2).sum()))
            if d > 0:
                m = max(m, (s[i] + s[j]) / d)
        total += m
        running = m
    return total / k


def assignment_report(points: DataFrame, centers: np.ndarray, n_total: int, *, max_not_reset: bool = False) -> dict:
    """Purity (A9), inertia (A13), DBI (A12) and cluster sizes (A8) of
    one set of centers, from ONE map job.

    Each Arrow batch of (features, label) is assigned as :func:`assign`
    does it (same gemm, first minimum), so clusters and distances are
    the same bits; the batch emits (cluster, label) → (cnt, Σdist,
    Σdist²). The driver merges those k×labels rows and derives:

    * purity / accepted as :func:`purity_accuracy` — per label the modal
      cluster by (cnt desc, cluster asc); Σ modal counts / ``n_total``,
      accepted iff the modal clusters are k distinct ones;
    * inertia = Σ dist²;
    * DBI from each cluster's mean distance (empty cluster → 0);
    * the sizes of the non-empty clusters.

    The per-metric DataFrame plans above are its relational oracles.
    """
    from mopso_engine.assign import _distances

    c = np.asarray(centers, dtype=np.float64)
    schema = StructType(
        [
            StructField("cluster", IntegerType(), False),
            StructField("label", points.schema["label"].dataType, False),
            StructField("cnt", LongType(), False),
            StructField("sum_d", DoubleType(), False),
            StructField("sum_d2", DoubleType(), False),
        ]
    )

    def kernel(batches):
        prepare()
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            d = _distances(x, c)
            idx = d.argmin(axis=1)
            dist = d[np.arange(len(idx)), idx]
            rows = pd.DataFrame(
                {"cluster": (idx + 1).astype(np.int32), "label": pdf["label"].to_numpy(), "d": dist, "d2": dist * dist}
            )
            yield (
                rows.groupby(["cluster", "label"], sort=True)
                .agg(cnt=("d", "size"), sum_d=("d", "sum"), sum_d2=("d2", "sum"))
                .reset_index()
            )

    parts = points.select("features", "label").mapInPandas(kernel, schema=schema).collect()
    cells: dict[tuple[int, int], list] = {}
    for r in parts:
        acc = cells.setdefault((r["cluster"], r["label"]), [0, 0.0, 0.0])
        acc[0] += r["cnt"]
        acc[1] += r["sum_d"]
        acc[2] += r["sum_d2"]
    k = len(c)
    modal: dict[int, tuple[int, int]] = {}  # label -> (modal count, modal cluster)
    cnt = np.zeros(k, dtype=np.int64)
    sum_d = np.zeros(k)
    for (cl, lab), (n, sd, _) in cells.items():
        best = modal.get(lab)
        if best is None or (n, -cl) > (best[0], -best[1]):
            modal[lab] = (n, cl)
        cnt[cl - 1] += n
        sum_d[cl - 1] += sd
    s = np.where(cnt > 0, sum_d / np.maximum(cnt, 1), 0.0)
    return {
        "purity": sum(n for n, _ in modal.values()) / float(n_total),
        "purity_accepted": len({cl for _, cl in modal.values()}) == k,
        "inertia": float(sum(v[2] for v in cells.values())),
        "dbi": _dbi(s, c, max_not_reset),
        "cluster_sizes": {i + 1: int(cnt[i]) for i in range(k) if cnt[i]},
    }


def _silhouette_points(points: DataFrame, assigned: DataFrame, include_self: bool) -> DataFrame:
    """Per-point silhouette DataFrame(s double) of the exact O(N²)
    self-join plan: the relational form of :func:`silhouette_exact` (its
    test oracle) and the plan behind :func:`silhouette_exact_df`."""
    pts = points.select("id", "features").join(assigned.select("id", "cluster"), "id")
    a = pts.select(
        F.col("id").alias("i"), F.col("features").alias("fi"), F.col("cluster").alias("ci")
    )
    b = pts.select(
        F.col("id").alias("j"), F.col("features").alias("fj"), F.col("cluster").alias("cj")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("fi", "fj", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    pairs = a.crossJoin(b)
    if not include_self:
        pairs = pairs.where(F.col("i") != F.col("j"))
    per_cluster = (
        pairs.select("i", "ci", "cj", dist.alias("d"))
        .groupBy("i", "ci", "cj")
        .agg(F.avg("d").alias("mean_d"))
    )
    own = per_cluster.where(F.col("ci") == F.col("cj")).select("i", F.col("mean_d").alias("a"))
    other = (
        per_cluster.where(F.col("ci") != F.col("cj"))
        .groupBy("i")
        .agg(F.min("mean_d").alias("b"))
    )
    return own.join(other, "i").select(
        F.try_divide(F.col("b") - F.col("a"), F.greatest(F.col("a"), F.col("b"))).alias("s")
    )


def silhouette_exact(points: DataFrame, assigned: DataFrame, *, include_self: bool = True) -> float:
    """A14: the exact O(N²) silhouette, mean over i of (b−a)/max(a,b).

    a = mean distance to the own cluster (INCLUDING self when
    ``include_self`` — the reference's bias, Spark_MOPSO_Avg.scala:622-633),
    b = min over the other clusters of the mean distance. A row is
    dropped when it has no other cluster, when its cluster is a
    singleton and ``include_self`` is False, and when max(a,b) = 0 (the
    relational plan's null quotient, which ``avg`` skips); no row left
    → 0.0. :func:`_silhouette_points` is the relational form of the same
    values.

    Plan: the (id, features, cluster) join is collected once (at most
    ``MAX_EXACT_KNN_ROWS`` rows), sorted by id and broadcast; ONE
    ``mapInPandas`` over ``spark.range(n_blocks)`` scores each fixed row
    block against all rows with elementwise Σ(x−y)² distances and emits
    the block's s_i; the driver sums them in id order and releases the
    broadcast. The value does not depend on the input's partitioning.
    Quadratic: run on samples; at scale use :func:`silhouette_ml`
    (squared-euclidean silhouette).
    """
    from mopso_engine.assign import _distances_exact
    from mopso_engine.objectives import MAX_EXACT_KNN_ROWS

    rows = points.select("id", "features").join(assigned.select("id", "cluster"), "id").collect()
    n = len(rows)
    if n > MAX_EXACT_KNN_ROWS:
        raise ValueError(
            f"exact silhouette broadcasts all {n} rows and scores N² pairs; beyond "
            f"{MAX_EXACT_KNN_ROWS} rows use silhouette_ml or a sample"
        )
    if n == 0:
        return 0.0
    order = np.argsort(np.array([r["id"] for r in rows], dtype=np.int64), kind="stable")
    x = np.array([rows[i]["features"] for i in order], dtype=np.float64)
    _, cl = np.unique(np.array([rows[i]["cluster"] for i in order]), return_inverse=True)
    block = max(1, _BLOCK_CELLS_EXACT // max(1, n * x.shape[1]))
    n_blocks = -(-n // block)
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast((x, cl))

    def kernel(batches):
        prepare()
        xs, cs = bc.value
        members = [cs == j for j in range(cs.max() + 1)]
        cnt = np.array([m.sum() for m in members], dtype=np.float64)
        for pdf in batches:
            for b in pdf["id"].to_numpy():
                lo, hi = int(b) * block, min(n, (int(b) + 1) * block)
                d = _distances_exact(xs[lo:hi], xs)
                sums = np.stack([d[:, m].sum(axis=1) for m in members], axis=1)
                own = cs[lo:hi]
                rr = np.arange(hi - lo)
                own_n = cnt[own] - (0 if include_self else 1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    a = sums[rr, own] / own_n
                    means = sums / cnt
                    means[rr, own] = np.inf
                    b_ = means.min(axis=1)
                    top = np.maximum(a, b_)
                    keep = (own_n > 0) & np.isfinite(b_) & (top > 0)
                    s = np.where(keep, (b_ - a) / top, np.nan)
                yield pd.DataFrame({"row": np.arange(lo, hi, dtype=np.int64), "s": s})

    schema = StructType([StructField("row", LongType(), False), StructField("s", DoubleType(), True)])
    try:
        out = (
            spark.range(n_blocks, numPartitions=min(n_blocks, spark.sparkContext.defaultParallelism))
            .mapInPandas(kernel, schema=schema)
            .collect()
        )
    finally:
        bc.destroy()
    s = np.full(n, np.nan)
    for r in out:
        s[r["row"]] = r["s"]
    kept = s[~np.isnan(s)]
    return math.fsum(kept) / len(kept) if len(kept) else 0.0


def silhouette_exact_df(points: DataFrame, assigned: DataFrame, *, include_self: bool = True, ndigits: int = 6) -> DataFrame:
    """1-row DataFrame(sil double) of :func:`silhouette_exact`'s value
    through the relational plan, for declarative pipelines / oracle
    checks."""
    sil = _silhouette_points(points, assigned, include_self)
    return sil.agg(F.round(F.avg("s"), ndigits).alias("sil"))


def silhouette_all_solutions(points: DataFrame, centers_stack) -> np.ndarray:
    """Squared-euclidean silhouette (ml.ClusteringEvaluator's formula) for
    a WHOLE archive of candidate clusterings in TWO distributed passes
    (in place of a per-entry assign + evaluator loop: 2 jobs instead of
    2·|archive|).

    The squared-euclidean silhouette admits sufficient statistics: with
    N_c = |C|, Y_c = Σ_{y∈C} y, ψ_c = Σ_{y∈C} ||y||², the mean squared
    distance of x to cluster C is ||x||² − 2·x·(Y_c/N_c) + ψ_c/N_c. So:

    * pass 1 — per-(solution, cluster) partials (N, Y, ψ) from each
      partition; driver-reduced (S·k rows of control state).
    * pass 2 — per-point coefficient from the broadcast stats; per-
      partition partial sums per solution.

    Matches ClusteringEvaluator exactly: a(x) is computed WITH the point
    itself in its own cluster, b(x) = min over the other non-empty
    clusters, singleton clusters score 0. Returns (S,) mean silhouettes.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType as _Arr

    from mopso_engine.assign import _distances as _dist

    cs = np.asarray(centers_stack, dtype=np.float64)
    s, k, d_ = cs.shape
    flat = cs.reshape(s * k, d_)

    stats_schema = StructType(
        [
            StructField("solution", IntegerType(), False),
            StructField("cluster", IntegerType(), False),
            StructField("n", LongType(), False),
            StructField("psi", DoubleType(), False),
            StructField("y", _Arr(DoubleType()), False),
        ]
    )

    def stats_kernel(batches):
        prepare()
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        n = x.shape[0]
        own = _dist(x, flat).reshape(n, s, k).argmin(axis=2)  # (n, s)
        xn2 = (x * x).sum(axis=1)
        sols, cls, ns, psis, ys = [], [], [], [], []
        for si in range(s):
            onehot = np.zeros((n, k))
            onehot[np.arange(n), own[:, si]] = 1.0
            cnt = onehot.sum(axis=0)
            ysum = onehot.T @ x  # (k, d)
            psi = onehot.T @ xn2  # (k,)
            for c in np.nonzero(cnt)[0]:
                sols.append(si)
                cls.append(int(c))
                ns.append(int(cnt[c]))
                psis.append(float(psi[c]))
                ys.append(ysum[c].tolist())
        yield pd.DataFrame(
            {"solution": np.array(sols, dtype=np.int32), "cluster": np.array(cls, dtype=np.int32),
             "n": np.array(ns, dtype=np.int64), "psi": psis, "y": ys}
        )

    rows = points.select("features").mapInPandas(stats_kernel, schema=stats_schema).collect()
    cnt = np.zeros((s, k))
    ysum = np.zeros((s, k, d_))
    psi = np.zeros((s, k))
    for r in rows:
        cnt[r["solution"], r["cluster"]] += r["n"]
        psi[r["solution"], r["cluster"]] += r["psi"]
        ysum[r["solution"], r["cluster"]] += np.asarray(r["y"])
    with np.errstate(invalid="ignore", divide="ignore"):
        mean_vec = np.where(cnt[:, :, None] > 0, ysum / np.maximum(cnt, 1)[:, :, None], 0.0)
        mean_psi = np.where(cnt > 0, psi / np.maximum(cnt, 1), np.inf)  # empty → never the min

    part_schema = StructType(
        [
            StructField("solution", IntegerType(), False),
            StructField("coef_sum", DoubleType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def coef_kernel(batches):
        prepare()
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        n = x.shape[0]
        own = _dist(x, flat).reshape(n, s, k).argmin(axis=2)  # (n, s)
        xn2 = (x * x).sum(axis=1)
        # mean squared distance of every point to every (solution, cluster)
        msd = (
            xn2[:, None, None]
            - 2.0 * np.einsum("nd,skd->nsk", x, mean_vec)
            + mean_psi[None, :, :]
        )
        a = np.take_along_axis(msd, own[:, :, None], axis=2)[:, :, 0]  # (n, s)
        masked = msd.copy()
        np.put_along_axis(masked, own[:, :, None], np.inf, axis=2)
        b = masked.min(axis=2)  # (n, s)
        own_n = np.take_along_axis(cnt[None, :, :].repeat(n, axis=0), own[:, :, None], axis=2)[:, :, 0]
        # ClusteringEvaluator rescales a(x) by N/(N−1): the sufficient-stats
        # mean includes the point's zero self-distance, the correction
        # yields the mean over the OTHER N−1 members
        a = a * own_n / np.maximum(own_n - 1, 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            coef = (b - a) / np.maximum(a, b)
        coef = np.where(own_n <= 1, 0.0, coef)  # singleton clusters score 0
        coef = np.nan_to_num(coef, nan=0.0, posinf=0.0, neginf=0.0)
        yield pd.DataFrame(
            {
                "solution": np.arange(s, dtype=np.int32),
                "coef_sum": coef.sum(axis=0),
                "n": np.full(s, n, dtype=np.int64),
            }
        )

    parts = points.select("features").mapInPandas(coef_kernel, schema=part_schema).collect()
    total = np.zeros(s)
    n_total = 0
    for r in parts:
        total[r["solution"]] += r["coef_sum"]
        if r["solution"] == 0:
            n_total += r["n"]
    return total / max(n_total, 1)


def silhouette_ml(points: DataFrame, assigned: DataFrame) -> float:
    """Squared-euclidean silhouette via ml.ClusteringEvaluator — the cheap,
    scalable alternative kept alongside the exact one (SURVEY A14)."""
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    df = (
        points.select("id", "features")
        .join(assigned.select("id", "cluster"), "id")
        .select(array_to_vector("features").alias("features"), F.col("cluster").alias("prediction"))
    )
    return ClusteringEvaluator(predictionCol="prediction").evaluate(df)


def partition_census(points: DataFrame) -> DataFrame:
    """A16 (showBaseInfo): per-partition label census — how many rows of
    each label landed in each partition (diagnostic for the partitioning
    strategies of §4.2; Spark_MOPSO_Avg.scala:1267-1291). Layout-dependent
    by nature: no oracle, used for partitioning diagnostics only."""
    return (
        points.select(F.spark_partition_id().alias("partition"), "label")
        .groupBy("partition", "label")
        .agg(F.count("*").alias("n"))
        .orderBy("partition", "label")
    )


def minmax_normalize(df: DataFrame, cols: list[str]) -> DataFrame:
    """A15 as a DataFrame plan: (x−min)/(max−min) per column; constant
    columns map to 0. One tiny aggregate + a projection."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        out = out.withColumn(
            f"{c}_norm",
            F.when(hi > lo, (F.col(c) - lo) / (hi - lo)).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"__lo_{c}" for c in cols]).drop(*[f"__hi_{c}" for c in cols])
