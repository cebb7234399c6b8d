"""Distributed integer-grid Lloyd's (mopso_engine.lloyd) — numpy-twin
oracle, partition invariance (the whole point of the integer-grid
design), reference-semantics rules (empty cluster keeps its center,
ties to the lowest cluster index, MOPSO_Single.scala:1272-1305), and
the convergence mode."""

import numpy as np
import pytest

from pyspark.sql import Row

from mopso_engine.lloyd import (
    LloydResult,
    derive_scale_log2,
    hash_uniform,
    lloyd_fit,
    lloyd_summary_df,
    x_bound_log2,
)


def _points_df(spark, x, n_parts=4):
    return spark.createDataFrame(
        [Row(id=i, features=[float(v) for v in row]) for i, row in enumerate(x)]
    ).repartition(n_parts, "id")


def _numpy_lloyd(x, init_q, scale, iters):
    """Pure-numpy twin of the integer-grid loop, sequential arithmetic."""
    q = np.floor(x.astype(np.float64) * scale + 0.5).astype(np.int64)
    qc = init_q.copy()
    n_c = np.zeros(len(qc), dtype=np.int64)
    for _ in range(iters):
        d2 = ((q[:, None, :] - qc[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        new = qc.copy()
        n_c = np.zeros(len(qc), dtype=np.int64)
        for c in range(len(qc)):
            mask = assign == c
            n_c[c] = mask.sum()
            if n_c[c]:
                new[c] = np.floor(q[mask].sum(axis=0) / n_c[c] + 0.5).astype(np.int64)
        qc = new
    return qc, n_c


@pytest.fixture(scope="module")
def xdata():
    rng = np.random.default_rng(5)
    # three planted blobs, |x| < 1
    return np.concatenate(
        [rng.normal(loc=c, scale=0.05, size=(40, 6)) for c in (-0.5, 0.0, 0.5)]
    ).astype(np.float32)


def test_lloyd_matches_numpy_twin_and_is_partition_invariant(spark, xdata):
    df4 = _points_df(spark, xdata, n_parts=4)
    res4 = lloyd_fit(df4, 3, seed=11, iters=3)
    # same data, radically different partitioning -> bit-identical output
    res1 = lloyd_fit(_points_df(spark, xdata, n_parts=1), 3, seed=11, iters=3)
    res13 = lloyd_fit(_points_df(spark, xdata, n_parts=13), 3, seed=11, iters=3)
    assert (res4.centers_q == res1.centers_q).all()
    assert (res4.centers_q == res13.centers_q).all()
    assert (res4.n_per_cluster == res1.n_per_cluster).all()
    assert res4.sse_q == res1.sse_q == res13.sse_q

    # numpy twin from the same init rows
    scale = 2.0**res4.scale_log2
    init = (
        df4.select("id", "features", hash_uniform("id", salt="lloyd11").alias("u"))
        .orderBy("u", "id")
        .limit(3)
        .collect()
    )
    init_q = np.floor(
        np.stack([np.asarray(r["features"]) for r in init]) * scale + 0.5
    ).astype(np.int64)
    exp_qc, exp_n = _numpy_lloyd(xdata, init_q, scale, iters=3)
    assert (res4.centers_q == exp_qc).all()
    assert (res4.n_per_cluster == exp_n).all()
    # the planted blobs are recovered: every cluster non-empty, centers
    # land near the blob means
    assert (res4.n_per_cluster > 0).all()
    got_centers = sorted(round(float(c[0]), 1) for c in res4.centers)
    assert got_centers == [-0.5, 0.0, 0.5]


def test_lloyd_convergence_mode(spark, xdata):
    df = _points_df(spark, xdata)
    res = lloyd_fit(df, 3, seed=11, tol=1e-10, max_iters=30)
    assert res.converged
    assert res.iters_run < 30
    # SSE is non-increasing along the recorded history (Lloyd guarantee
    # holds on the grid up to rounding; allow half-grid-step slack)
    sses = [h["sse"] for h in res.history]
    slack = 2.0**-res.scale_log2
    assert all(b <= a + slack for a, b in zip(sses, sses[1:]))


def test_lloyd_empty_cluster_keeps_center_and_ties_go_low(spark):
    # four IDENTICAL points, k=2: both init centers equal, every point
    # ties -> lowest cluster index wins; cluster 1 goes empty and must
    # KEEP its (identical) center (reference case None => oldCenter)
    x = np.tile(np.float32([0.25, -0.25]), (4, 1))
    res = lloyd_fit(_points_df(spark, x, n_parts=2), 2, seed=11, iters=2)
    assert res.n_per_cluster.tolist() == [4, 0]
    assert (res.centers_q[0] == res.centers_q[1]).all()
    assert res.sse_q == 0


def test_lloyd_rejects_n_smaller_than_k(spark):
    x = np.float32([[0.1, 0.2]])
    with pytest.raises(ValueError, match="n=1 < k=2"):
        lloyd_fit(_points_df(spark, x, n_parts=1), 2)


def test_x_bound_and_scale_derivation(spark):
    x = np.float32([[0.3, -0.9], [0.1, 0.2]])
    df = _points_df(spark, x, n_parts=1)
    assert x_bound_log2(df) == 0  # 0.9 <= 2^0
    big = np.float32([[3.0, 1.0]])
    assert x_bound_log2(_points_df(spark, big, n_parts=1)) == 2
    # headroom: scale uses x_bound+1 and an n·d term count, so the SSE's
    # worst-case sum of n·d squared (q-qc) terms fits int64 (ADVICE r5)
    n, d = 2, 6
    k = derive_scale_log2(n * d, 0 + 1)
    assert n * d * 2 ** (2 * k + 2) <= 1 << 61
    # large-magnitude features get a coarser absolute grid (negative k
    # allowed) with the SAME relative resolution instead of an error
    k_big = derive_scale_log2(1 << 30, 18)  # e.g. raw prices, |x| <= 2^17
    assert k_big + 18 >= 13 and k_big < 0


def test_lloyd_summary_df_shape(spark, xdata):
    out = lloyd_summary_df(_points_df(spark, xdata), 3, seed=11, iters=2)
    rows = out.collect()
    assert len(rows) == 3 * 6
    assert out.columns == ["cluster", "dim", "n", "qc"]
    assert isinstance(lloyd_fit(_points_df(spark, xdata), 3, iters=1), LloydResult)
