"""Post-hoc RELATIONAL re-scoring of a fitted archive.

``MopsoEngine.fit`` computes [Dev, Conn] with the Arrow fitness kernel
(objectives.evaluate_solutions). These helpers recompute the same
objectives for the returned archive positions through a completely
different code path — declarative assignment + kNN-pair joins + grouped
aggregates (the plans behind the ``dev_inertia`` / ``conn_objective``
queries) — so a fitness-kernel regression shows up as a disagreement,
and a SQL oracle holding the same positions as literals can verify the
values independently (DuckDB re-derives assignment, kNN and Conn from
the embeddings/lineitem tables; only the seeded RNG output — the
positions — is injected).

Everything here is control-plane sized: S ≤ archive-capacity solutions,
so the collected result is S rows; the distributed work is one
multi-solution assignment pass + one kNN-pair subtree.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopso_engine.assign import assign_all_solutions
from mopso_engine.objectives import _release_knn, knn_pairs_exact, knn_pairs_partition_local


def rescore_archive(
    pts: DataFrame,
    positions: list[np.ndarray],
    knn_l: int,
    *,
    n_rows: int | None = None,
    knn_mode: str = "exact",
    layout_partitions: int | None = None,
) -> list[tuple[int, float, float]]:
    """[(solution, dev, conn)] for each archive position, recomputed
    relationally with exact-math distances (oracle-reproducible).

    Dev = Σ nearest-center distance; Conn = Σ 1/rank over same-cluster
    top-``knn_l`` neighbors. ``knn_mode`` must be the fit's scope
    (``MopsoResult.knn_mode_used``, which is its ``fitness_mode``):

    * ``'exact'`` — global neighbors from :func:`knn_pairs_exact`'s pair
      table, the fit's neighbours (valid to ``MAX_EXACT_KNN_ROWS``, the same
      cap an exact fit is held to, checked before its collect);
    * ``'partition_local'`` — neighbors from
      :func:`knn_pairs_partition_local` over the layout
      ``repartition(layout_partitions, "id").sortWithinPartitions("id")``,
      rebuilt here, or over ``pts``' own layout when ``layout_partitions``
      is None (the fit's, ``MopsoResult.layout_partitions``, when it
      scored the caller's layout): no collect, no broadcast. It is the
      relational oracle of the partition-local neighbor sets on that
      layout (an exact global rescore of a partition-local fit would
      disagree by construction).

    Plan: the exact-math multi-solution assignment is joined to both
    ends of each neighbor pair; its Dev rows and the pairs' Conn terms
    are summed in ONE ``groupBy("solution")``. In the exact scope the
    S·N assignment is broadcast into both joins and the pair table
    reads only the kNN collect, so the input is neither re-laid-out nor
    persisted: 5 Spark jobs (the collect, two assignment broadcasts, the
    aggregate's two stages). Eager; the kNN broadcast is released before
    returning.
    """
    stack = np.stack(positions)
    if knn_mode == "partition_local":
        if layout_partitions is not None:
            # rebuild the fit's layout bit-for-bit: hash-partition on id +
            # in-partition sort is a pure function of (data, partition count)
            pts = pts.repartition(layout_partitions, "id").sortWithinPartitions("id")
        pairs = knn_pairs_partition_local(pts, knn_l)
        asg = assign_all_solutions(pts, stack, exact_math=True)
    elif knn_mode == "exact":
        pairs = knn_pairs_exact(pts, knn_l, n_rows=n_rows)
        # S·N rows of (id, solution, cluster, dist): small enough to ship
        # to every task, so neither join shuffles the pair table
        asg = F.broadcast(assign_all_solutions(pts, stack, exact_math=True))
    else:
        raise ValueError(f"unknown rescore knn_mode: {knn_mode}")
    try:
        rows = _dev_conn(pairs, asg).collect()
    finally:
        _release_knn(pairs)
    return sorted((r["solution"], float(r["dev"]), float(r["conn"])) for r in rows)


def _dev_conn(pairs: DataFrame, asg: DataFrame) -> DataFrame:
    """(solution, dev, conn): the assignment's distances and the
    same-cluster 1/rank terms of the pairs (both ends joined to their
    cluster), unioned into one grouped sum."""
    a = asg.select("id", "solution", F.col("cluster").alias("c_i"))
    b = asg.select(
        F.col("id").alias("nbr_id_b"),
        F.col("solution").alias("sol_j"),
        F.col("cluster").alias("c_j"),
    )
    conn = (
        pairs.join(a, "id")
        .join(b, (F.col("nbr_id") == F.col("nbr_id_b")) & (F.col("solution") == F.col("sol_j")))
        .select(
            "solution",
            F.lit(0.0).alias("dev"),
            F.when(F.col("c_i") == F.col("c_j"), 1.0 / F.col("rank")).otherwise(0.0).alias("conn"),
        )
    )
    dev = asg.select("solution", F.col("dist").alias("dev"), F.lit(0.0).alias("conn"))
    return dev.unionByName(conn).groupBy("solution").agg(F.sum("dev").alias("dev"), F.sum("conn").alias("conn"))


def rescore_dev(pts: DataFrame, positions: list[np.ndarray]) -> list[tuple[int, float]]:
    """[(solution, dev)] — global Dev only, for partition-local fits whose
    Conn is layout-dependent (not SQL-expressible); one multi-solution
    assignment pass + one grouped aggregate."""
    stack = np.stack(positions)
    rows = (
        assign_all_solutions(pts, stack, exact_math=True)
        .groupBy("solution")
        .agg(F.sum("dist").alias("dev"))
        .collect()
    )
    return sorted((r["solution"], float(r["dev"])) for r in rows)
