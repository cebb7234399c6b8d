"""The report's two kernels against their relational forms, on hostile
inputs: duplicate points (a = b = 0), exact distance ties, a single
cluster, singleton clusters, a center that attracts no point, labels
tied for their modal cluster, and one-row or empty input partitions.

* ``metrics.silhouette_exact`` (broadcast block kernel) against the
  relational ``_silhouette_points`` average and the numpy oracle, to
  1e-12, and bit-identical over 1 or 7 input partitions;
* ``metrics.assignment_report`` (one-aggregate evaluate) against the
  DataFrame metrics on the same assignment.
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mopso_engine import metrics as M
from mopso_engine.assign import assign_with_labels
from tests.conftest import oracle_silhouette

TOL = 1e-12


def _points(spark, x, labels, parts):
    rows = [(i, [float(v) for v in xi], int(lab)) for i, (xi, lab) in enumerate(zip(x, labels))]
    df = spark.createDataFrame(rows, "id long, features array<double>, label int")
    return df.repartition(parts).persist()


def _assigned(spark, clusters, parts):
    rows = [(i, int(c)) for i, c in enumerate(clusters)]
    return spark.createDataFrame(rows, "id long, cluster int").repartition(parts).persist()


def _relational_silhouette(pts, asg, include_self):
    """The relational plan's average; its (b−a)/max(a,b) is null at
    max(a,b) = 0, which ``avg`` skips."""
    v = M._silhouette_points(pts, asg, include_self).agg(F.avg("s")).collect()[0][0]
    return 0.0 if v is None else v


def test_silhouette_exact_df_skips_zero_denominator(spark):
    """Under ANSI division (the Spark 4 default) a row with
    max(a, b) = 0 is skipped, as the kernel skips it, instead of raising
    DIVIDE_BY_ZERO: three points at 0 split over clusters 1 and 2."""
    pts = _points(spark, [[0.0], [0.0], [0.0], [5.0]], [1, 1, 1, 1], 2)
    asg = _assigned(spark, [1, 1, 2, 3], 2)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = M.silhouette_exact_df(pts, asg).first()["sil"]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == round(M.silhouette_exact(pts, asg), 6)


def _check_silhouette(spark, x, clusters, include_self):
    x = np.asarray(x, dtype=np.float64)
    clusters = np.asarray(clusters)
    want = oracle_silhouette(x, clusters, include_self)
    got = {}
    for parts in (1, 7):
        pts = _points(spark, x, np.ones(len(x)), parts)
        asg = _assigned(spark, clusters, parts)
        got[parts] = M.silhouette_exact(pts, asg, include_self=include_self)
        if parts == 7:
            rel = _relational_silhouette(pts, asg, include_self)
        pts.unpersist()
        asg.unpersist()
    assert got[1] == got[7]  # bit-identical over the input's partitioning
    assert math.isclose(got[1], want, rel_tol=TOL, abs_tol=TOL)
    assert math.isclose(got[1], rel, rel_tol=TOL, abs_tol=TOL)
    return got[1]


SILHOUETTE_CASES = {
    # rows 0-2 coincide: row 0 and row 2 have a = b = 0 and score nothing
    "duplicates": ([[0.0], [0.0], [0.0], [5.0]], [1, 1, 2, 3]),
    # every distance is 1, 2 or 3: exact ties between clusters' means
    "ties": ([[0.0], [1.0], [2.0], [3.0]], [1, 2, 1, 2]),
    "single_cluster": ([[0.0, 1.0], [2.0, 3.0], [4.0, 4.0]], [1, 1, 1]),
    "singletons": ([[0.0, 0.0], [1.0, 0.0], [0.0, 2.0], [3.0, 3.0]], [1, 2, 3, 3]),
    "one_row": ([[1.0, 2.0]], [1]),
}


@pytest.mark.parametrize("include_self", [True, False])
@pytest.mark.parametrize("case", sorted(SILHOUETTE_CASES))
def test_silhouette_exact_edge_cases(spark, case, include_self):
    x, clusters = SILHOUETTE_CASES[case]
    got = _check_silhouette(spark, x, clusters, include_self)
    if case in ("single_cluster", "one_row"):
        assert got == 0.0


@st.composite
def labeled_grids(draw, max_rows=16):
    """Small integer-grid tables: coinciding points and exact distance
    ties are common."""
    n = draw(st.integers(1, max_rows))
    d = draw(st.integers(1, 3))
    x = draw(st.lists(st.lists(st.integers(-2, 2), min_size=d, max_size=d), min_size=n, max_size=n))
    return np.asarray(x, dtype=np.float64)


@given(
    x=labeled_grids(),
    m=st.integers(1, 4),
    seed=st.integers(0, 2**16),
    include_self=st.booleans(),
)
@settings(max_examples=12, deadline=None)
def test_silhouette_exact_matches_relational_and_oracle(spark, x, m, seed, include_self):
    clusters = np.random.default_rng(seed).integers(1, m + 1, size=len(x))
    _check_silhouette(spark, x, clusters, include_self)


def _check_report(spark, x, labels, centers, parts):
    centers = np.asarray(centers, dtype=np.float64)
    pts = _points(spark, x, labels, parts)
    n, k = len(x), len(centers)
    awl = assign_with_labels(pts, centers).persist()
    purity, accepted = M.purity_accuracy(awl, n, k)
    sizes = {r["cluster"]: r["n"] for r in M.cluster_sizes(awl).collect()}
    inertia = M.inertia(awl)
    for not_reset in (False, True):
        got = M.assignment_report(pts, centers, n, max_not_reset=not_reset)
        assert (got["purity"], got["purity_accepted"], got["cluster_sizes"]) == (purity, accepted, sizes)
        assert math.isclose(got["inertia"], inertia, rel_tol=TOL)
        dbi = M.davies_bouldin(awl, centers, max_not_reset=not_reset)
        assert math.isclose(got["dbi"], dbi, rel_tol=TOL)
    awl.unpersist()
    pts.unpersist()
    return got


REPORT_CASES = {
    # the third center attracts no point: an empty cluster in DBI and sizes
    "empty_cluster": ([[0.0], [1.0], [9.0], [10.0]], [1, 1, 2, 2], [[0.5], [9.5], [100.0]]),
    # two equal centers: every tie goes to the first, the second is empty
    "duplicate_centers": ([[0.0], [1.0], [9.0]], [1, 2, 1], [[0.0], [0.0], [9.0]]),
    # label 1 splits 2:2 over clusters 1 and 2: the smaller id is modal
    "tied_modal": ([[0.0], [0.0], [5.0], [5.0], [5.0]], [1, 1, 1, 1, 2], [[0.0], [5.0]]),
    # row 1 is equidistant from both centers
    "distance_tie": ([[0.0], [1.0], [2.0]], [1, 2, 2], [[0.0], [2.0]]),
    "one_row": ([[1.0, 2.0]], [3], [[0.0, 0.0], [1.0, 2.0]]),
}


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("case", sorted(REPORT_CASES))
def test_assignment_report_edge_cases(spark, case, parts):
    x, labels, centers = REPORT_CASES[case]
    got = _check_report(spark, x, labels, centers, parts)
    if case == "empty_cluster":
        assert sorted(got["cluster_sizes"]) == [1, 2]
    if case == "tied_modal":
        assert got["purity"] == (2 + 1) / 5  # label 1's modal cluster is 1, with 2 rows


@given(
    x=labeled_grids(),
    centers=labeled_grids(max_rows=4),
    seed=st.integers(0, 2**16),
    parts=st.integers(1, 7),
)
@settings(max_examples=12, deadline=None)
def test_assignment_report_matches_dataframe_metrics(spark, x, centers, seed, parts):
    d = min(x.shape[1], centers.shape[1])
    labels = np.random.default_rng(seed).integers(1, 4, size=len(x))
    _check_report(spark, x[:, :d], labels, centers[:, :d], parts)
