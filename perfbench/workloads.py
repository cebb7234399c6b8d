"""The benchmark's workloads: inputs, one operation, checks.

The inputs are the extracts of the sf0.1 and sf0.01 tables under
``data/`` (see ``make_data.py``); the seed is the fits' seed, so it fixes
the swarm and with it every output. Each workload warms up inside
set-up and then exposes one operation that the runner times in a closed
loop. Checks run after each operation, outside the timed window:

* ``scale_local`` (a fit): the archive front must be mutually
  non-dominated and bit-identical to the run's first fit of the seed,
  and the kernel's |p|/N-weighted Dev must agree with a relational
  recomputation to ``REL_TOL``.
* ``report``: every value must equal the run's first report (floats up
  to the summation order of Spark's aggregates), and the
  relational re-score of the archive (exact kNN) must agree with the
  kernel's Dev and Conn to ``REL_TOL``. The report runs over the archive
  cycled or cut to ``REPORT_WIDTH`` solutions.

Expected values live in memory for one run only. Each check returns the
relational disagreement it measured on that operation.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
from pyspark.sql import functions as F

from mopso_engine import MopsoConfig, MopsoEngine
from mopso_engine import metrics
from mopso_engine.assign import assign, assign_all_solutions
from mopso_engine.io import points_from_columns, points_from_embeddings
from mopso_engine.pareto import non_dominated_mask
from mopso_engine.rescore import rescore_archive, rescore_dev
from spans import NullTracer

REL_TOL = 1e-9

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: the report scores the archive cycled or cut to this many solutions, so
#: its work does not follow the seed's front size
REPORT_WIDTH = 4
#: the lineitem slice (``make_data.py``: one sf0.1 row in 15, by row
#: hash) over 4 partitions keeps ~10k rows per partition, as sf0.1's
#: 600k rows over 64 partitions, so the quadratic partition-local kNN
#: build stays the largest layer at 1/15 of the rows
LI_PARTITIONS = 4
#: the warm-up fit runs on one slice row in WARM_MOD
WARM_MOD = 20

#: hypervolume reference points (Dev, Conn), about four times the fronts'
#: values on these tables, so that a seed's front lands well inside the
#: box (fronts near (2.5e3, 1.35e3) and (8.2e7, 2.3e4)); a front's
#: hypervolume is reported as its share of the box from the origin
HV_REF = {
    "embeddings": (10_000.0, 6000.0),
    "lineitem": (3.5e8, 100_000.0),
}


def embeddings(spark):
    """(sf0.1, sf0.01) embeddings as labeled points tables: 2000 rows for
    the fits and 500 for the exact silhouette."""
    return tuple(points_from_embeddings(spark, os.path.join(DATA, sf)) for sf in ("sf0.1", "sf0.01"))


def lineitem_points(spark, mod: int = 1):
    """The lineitem slice as points (quantity, extended price, discount,
    tax) keyed by the row hash, hash-partitioned on it and sorted within
    partitions, as ``__spark_entry__._fit_lineitem`` lays out sf0.1;
    ``mod`` keeps one row in ``mod`` by that hash."""
    li = spark.read.parquet(os.path.join(DATA, "sf0.1", "lineitem_slice.parquet"))
    # the slice holds exactly the columns the row hash reads, in its order
    li = li.withColumn("pid", F.xxhash64(*li.columns))
    if mod > 1:
        li = li.where(F.pmod("pid", F.lit(mod)) == 0)
    return (
        points_from_columns(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], None, id_col="pid")
        .repartition(LI_PARTITIONS, "id")
        .sortWithinPartitions("id")
    )


def hypervolume(front: np.ndarray, ref: tuple[float, float]) -> float:
    """Share of the box [0, ref] dominated by a 2-objective minimization front."""
    pts = sorted((float(a), float(b)) for a, b in front if a < ref[0] and b < ref[1])
    hv, prev_conn = 0.0, ref[1]
    for dev, conn in pts:
        if conn < prev_conn:
            hv += (ref[0] - dev) * (prev_conn - conn)
            prev_conn = conn
    return hv / (ref[0] * ref[1])


def rel_err(a: float, b: float) -> float:
    return abs(a - b) / max(abs(a), abs(b), 1e-300)


def same(a, b) -> bool:
    """Equal, floats up to reordered summation in Spark's aggregates."""
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and math.isclose(
            a, b, rel_tol=1e-12, abs_tol=1e-12
        )
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def archive_err(fitness, rescored) -> float:
    """Largest relative disagreement between an archive's kernel
    (Dev, Conn) and its relational re-score [(solution, dev, conn)]."""
    if len(rescored) != len(fitness):
        return math.inf
    return max(
        max(rel_err(dev, fitness[s][0]), rel_err(conn, fitness[s][1])) for s, dev, conn in rescored
    )


def fit_figures(res, hv_ref) -> dict:
    ph = res.phase_sec
    return {
        "front": np.asarray(res.archive_fitness).tolist(),
        "iter_s": ph["iter_loop"] / max(1, ph["n_iters_run"]),
        "front_hv": hypervolume(res.archive_fitness, hv_ref),
    }


def _persist(df):
    df = df.persist()
    df.count()
    return df


class Workload:
    """Inputs, one operation and its checks.

    ``check`` returns ``(ok, max_rel_err)``: whether the output is right,
    and the largest relative disagreement between the kernel's objectives
    and their relational recomputation on this operation."""

    name: str

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.expected = None


class ScaleLocal(Workload):
    """Partition-local fitness over the lineitem slice, the config of
    the lineitem scale fit: the quadratic per-partition kNN build and the
    row-heavy passes carry the load."""

    name = "scale_local"

    def config(self, **budget) -> MopsoConfig:
        cfg = dict(k=4, n_particles=5, iter_max=3, knn_l=5, seed=self.seed, fitness_mode="partition_local")
        cfg.update(budget)
        return MopsoConfig(**cfg)

    def prepare(self) -> None:
        self.pts = _persist(lineitem_points(self.spark))
        # a small warm-up fit: the session's first fit ran up to 2x slower
        warm = _persist(lineitem_points(self.spark, mod=WARM_MOD))
        MopsoEngine(self.config(n_particles=2, iter_max=1)).fit(warm)
        warm.unpersist()

    def operation(self, tracer):  # noqa: ARG002 - spans come from patched modules
        return MopsoEngine(self.config()).fit(self.pts)

    def figures(self, res) -> dict:
        return fit_figures(res, HV_REF["lineitem"])

    def check(self, res) -> tuple[bool, float]:
        err = self.relational_err(res)
        front = np.asarray(res.archive_fitness, dtype=np.float64)
        got = (front.tolist(), np.stack(res.archive_positions).tolist())
        if self.expected is None:
            self.expected = got
        ok = err <= REL_TOL and bool(non_dominated_mask(front).all()) and got == self.expected
        return ok, err

    def relational_err(self, res) -> float:
        """The kernel weights each partition's Dev by |p|/N; recompute it
        per partition from the relational assignment (exact-math
        distances) over the same layout, and check that the partitions
        add up to ``rescore_dev``'s global Dev."""
        positions = res.archive_positions
        per_part = (
            assign_all_solutions(self.pts, np.stack(positions), exact_math=True)
            .withColumn("part", F.spark_partition_id())
            .groupBy("solution", "part")
            .agg(F.sum("dist").alias("dev"), F.count("*").alias("n"))
            .collect()
        )
        weighted = np.zeros(len(positions))
        total = np.zeros(len(positions))
        for r in per_part:
            weighted[r["solution"]] += r["n"] / res.n_points * r["dev"]
            total[r["solution"]] += r["dev"]
        err = 0.0
        for s, dev in rescore_dev(self.pts, positions):
            err = max(err, rel_err(dev, total[s]), rel_err(weighted[s], res.archive_fitness[s][0]))
        return err


class Report(Workload):
    """The reference's post-fit report over a fixed archive: Catalyst
    joins, windows and shuffles with zero fitness passes."""

    name = "report"

    def prepare(self) -> None:
        big, small = embeddings(self.spark)
        self.pts, self.small = _persist(big), _persist(small)
        self.engine = MopsoEngine(
            MopsoConfig(n_particles=6, iter_max=3, knn_l=10, archive_capacity=15, seed=self.seed)
        )
        self.fit = self.engine.fit(self.pts)
        self.fit_figures = fit_figures(self.fit, HV_REF["embeddings"])
        pick = [i % len(self.fit.archive_positions) for i in range(REPORT_WIDTH)]
        self.positions = [self.fit.archive_positions[i] for i in pick]
        self.fitness = np.asarray(self.fit.archive_fitness)[pick]
        # a one-solution report compiles every plan the timed ones run:
        # a cold report took ~30% longer
        self.report(NullTracer(), self.positions[:1])

    def operation(self, tracer):
        return self.report(tracer, self.positions)

    def report(self, tracer, positions):
        fit, stack = self.fit, np.stack(positions)
        with tracer.span("metrics.silhouette_all"):
            sil = metrics.silhouette_all_solutions(self.pts, stack)
        with tracer.span("metrics.purity_all"):
            purity = metrics.purity_all_solutions(self.pts, stack).collect()
        ev = self.engine.evaluate(self.pts, fit)
        with tracer.span("rescore.archive"):
            rescored = rescore_archive(
                self.pts, positions, knn_l=self.engine.cfg.knn_l, n_rows=fit.n_points,
                knn_mode=fit.knn_mode_used, layout_partitions=fit.layout_partitions,
            )
        with tracer.span("assign.assign"):
            asg = _persist(assign(self.small, fit.best_position))
        with tracer.span("metrics.silhouette_exact"):
            sil_exact = metrics.silhouette_exact(self.small, asg)
        asg.unpersist()
        # through JSON, so numpy and tuple values compare as plain lists
        return json.loads(
            json.dumps(
                {
                    "silhouette_all": [float(v) for v in sil],
                    "purity_all": sorted(tuple(r) for r in purity),
                    "evaluate": ev,
                    "rescore": rescored,
                    "silhouette_exact": sil_exact,
                }
            )
        )

    def figures(self, out) -> dict:  # noqa: ARG002 - the archive is fixed at set-up
        return self.fit_figures

    def check(self, out) -> tuple[bool, float]:
        err = archive_err(self.fitness, out["rescore"])
        if self.expected is None:
            self.expected = out
        return err <= REL_TOL and same(out, self.expected), err


WORKLOADS = {w.name: w for w in (ScaleLocal, Report)}
