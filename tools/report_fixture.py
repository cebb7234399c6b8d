#!/usr/bin/env python
"""The recorded post-fit report values and how to regenerate them.

``tests/test_report_fixture.py`` recomputes the report's values on fixed
inputs and compares them with ``tests/data/report_values.json``: floats
to 1e-12 relative, integers, flags and cluster ids exactly. The
benchmark only compares a report with the same run's first report, so
this file is what pins the values across changes to the report's plans.

Inputs, each scored against a fixed set of centers:

* ``blobs``: the tests' labeled gaussian blobs (``make_blobs()``, 300
  rows, d=4) with their true centers;
* ``blobs_empty``: the same points with a fourth center that attracts no
  point, so one cluster is empty in the DBI and the cluster sizes;
* ``embeddings``: ``perfbench/data/sf0.01`` (500 rows, d=64, 10 labels)
  with 10 of its own rows, picked by a seeded RNG, as centers.

Recorded per input: ``MopsoEngine.evaluate`` with the reference's DBI
``max`` reset and not reset, ``metrics.silhouette_exact`` with and
without the point itself in its own cluster, and the k-means baseline's
purity and inertia from ``report.build_report``. On ``blobs`` (L=5) and
``embeddings`` (L=10) also the exact-scope relational re-score
(``rescore.rescore_archive``) of a three-solution archive: the centers
and two seeded perturbations of them.

Re-run only for a change that is meant to move a report value, and say
so where the change is recorded:

    python tools/report_fixture.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from mopso_engine import metrics  # noqa: E402
from mopso_engine.assign import assign  # noqa: E402
from mopso_engine.engine import MopsoEngine, MopsoResult  # noqa: E402
from mopso_engine.io import points_from_embeddings  # noqa: E402
from mopso_engine.report import build_report  # noqa: E402
from mopso_engine.rescore import rescore_archive  # noqa: E402
from mopso_engine.schema import BugCompat, MopsoConfig  # noqa: E402
from tests.conftest import make_blobs, make_spark  # noqa: E402

FIXTURE_PATH = os.path.join(ROOT, "tests", "data", "report_values.json")
EMBEDDINGS_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
CASES = ("blobs", "blobs_empty", "embeddings")
#: seeds the pick of the embeddings' centers and the rescore's perturbations
CENTER_SEED = 2024
#: the kNN size L of each input's exact rescore
RESCORE_L = {"blobs": 5, "embeddings": 10}


def case_input(spark, case: str):
    """(points, centers) of one recorded input."""
    if case in ("blobs", "blobs_empty"):
        ids, x, labels, centers = make_blobs()
        rows = [(int(i), [float(v) for v in xi], int(lab)) for i, xi, lab in zip(ids, x, labels)]
        pts = spark.createDataFrame(rows, "id long, features array<double>, label int")
        if case == "blobs_empty":
            centers = np.vstack([centers, np.full(centers.shape[1], 1e3)])
        return pts, centers
    if case == "embeddings":
        pts = points_from_embeddings(spark, EMBEDDINGS_DIR)
        rows = sorted(pts.select("id", "features").collect(), key=lambda r: r["id"])
        pick = np.sort(np.random.default_rng(CENTER_SEED).choice(len(rows), size=10, replace=False))
        return pts, np.array([rows[i]["features"] for i in pick], dtype=np.float64)
    raise ValueError(f"unknown case: {case}")


def _result(centers: np.ndarray, n: int) -> MopsoResult:
    """A one-solution result holding ``centers``: all the report reads."""
    zero = np.zeros((1, 2))
    return MopsoResult(
        archive_positions=[centers],
        archive_fitness=zero,
        archive_fitness_normalized=zero,
        best_position=centers,
        best_index=0,
        n_points=n,
        n_features=centers.shape[1],
        k=len(centers),
        iterations=0,
        wall_clock_sec=0.0,
    )


def rescore_positions(centers: np.ndarray) -> list[np.ndarray]:
    """The rescored archive: ``centers`` and two seeded perturbations,
    each shifted per coordinate by a normal draw as wide as the
    centers' spread (on the embeddings, points change cluster and Conn
    moves; each blob stays whole in one cluster)."""
    rng = np.random.default_rng(CENTER_SEED)
    scale = float(centers.std())
    return [centers] + [centers + rng.normal(scale=scale, size=centers.shape) for _ in range(2)]


def report_values(spark, case: str) -> dict:
    """The report's values on one recorded input, as JSON would hold them."""
    pts, centers = case_input(spark, case)
    pts = pts.persist()
    try:
        res = _result(centers, pts.count())
        out = {}
        for not_reset in (False, True):
            eng = MopsoEngine(MopsoConfig(k=len(centers), bug_compat=BugCompat(dbi_max_not_reset=not_reset)))
            out[f"evaluate_dbi_max_not_reset_{not_reset}"] = eng.evaluate(pts, res)
        asg = assign(pts, centers).persist()
        for include_self in (True, False):
            out[f"silhouette_exact_include_self_{include_self}"] = metrics.silhouette_exact(
                pts, asg, include_self=include_self
            )
        asg.unpersist()
        km = build_report(MopsoEngine(MopsoConfig(k=len(centers))), pts, res)["kmeans_baseline"]
        out["kmeans_baseline"] = {key: km[key] for key in ("purity", "purity_accepted", "inertia")}
        if case in RESCORE_L:
            out["rescore_archive"] = rescore_archive(
                pts, rescore_positions(centers), RESCORE_L[case], n_rows=res.n_points, knn_mode="exact"
            )
    finally:
        pts.unpersist()
    return json.loads(json.dumps(out))


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else FIXTURE_PATH
    spark = make_spark()
    try:
        data = {case: report_values(spark, case) for case in CASES}
    finally:
        spark.stop()
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
