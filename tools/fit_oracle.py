#!/usr/bin/env python
"""The recorded seeded-fit trajectories and their DuckDB replay.

The seeded fits below are bit-deterministic (hash layout + in-partition
sort + batch-order-independent kernel reduction), so the archive they
produce at sf0.01 is recorded once in ``fit_oracle_data.json`` and
re-verified two ways by
``tests/test_golden.py::test_fit_oracle_data_is_fresh``: the fits must
reproduce the recorded positions, and DuckDB must re-derive the fits'
objectives relationally from those positions (the replay SQL below).

Re-run after ANY change that can move the PSO trajectory (engine, pso,
pareto, objectives, init, the fit configs below):

    python tools/fit_oracle.py [sf_dir [out_json]]

``out_json`` defaults to the recorded file; write elsewhere and diff to
check the recorded file is fresh without touching it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mopso_engine.io import points_from_embeddings, read_table  # noqa: E402
from mopso_engine.schema import MopsoConfig  # noqa: E402

_FIT_ORACLE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fit_oracle_data.json")


def _fit_embeddings(spark: SparkSession, sf: str):
    """The tiny-budget seeded exact-mode fit on the embeddings points
    table."""
    from mopso_engine.engine import MopsoEngine

    pts = points_from_embeddings(spark, sf)
    cfg = MopsoConfig(n_particles=6, iter_max=2, knn_l=5, seed=42)
    return MopsoEngine(cfg).fit(pts), pts


def _fit_embeddings_full(spark: SparkSession, sf: str):
    """The REFERENCE-budget fit (VERDICT r1 #8): 50 particles × 10
    iterations × L=10 × archive 15 — the reference's own constants
    (Spark_MOPSO_Avg.scala:31-39) — exposing the per-iteration driver-loop
    overhead the tiny-budget fit hides."""
    from mopso_engine.engine import MopsoEngine

    pts = points_from_embeddings(spark, sf)
    cfg = MopsoConfig(n_particles=50, iter_max=10, knn_l=10, seed=42)
    return MopsoEngine(cfg).fit(pts), pts


def _fit_lineitem(spark: SparkSession, sf: str):
    """The SCALE demonstration fit: partition-local fitness over a
    lineitem-derived points table (~600k rows at sf0.1) — the reference
    Avg's own cluster-scale semantics (no data broadcast, map-only
    per-iteration jobs, Spark_MOPSO_Avg.scala:86,843-865). The row id is
    a deterministic hash of the full row, and the layout is an explicit
    hash-repartition + in-partition sort, so the seeded fit replays
    bit-identically regardless of input splits or cpu count."""
    from mopso_engine.engine import MopsoEngine
    from mopso_engine.io import points_from_columns

    li = read_table(spark, sf, "lineitem").withColumn(
        "pid",
        F.xxhash64(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        ),
    )
    pts = points_from_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], None, id_col="pid"
    ).repartition(64, "id").sortWithinPartitions("id")
    cfg = MopsoConfig(
        k=4, n_particles=5, iter_max=2, knn_l=5, seed=42,
        fitness_mode="partition_local",
    )
    return MopsoEngine(cfg).fit(pts), pts


def _fit_oracle_embeddings_sql(d: dict, *, knn_l: int) -> str:
    """Full-strength oracle for mopso_fit / mopso_fit_full: DuckDB
    recomputes assignment, Dev, the global L=``knn_l`` kNN and Conn from
    the embeddings table, for the recorded archive positions (the only
    injected literals)."""
    positions = d["positions"]
    vals = ",\n          ".join(
        f"({s}, {c + 1}, CAST([{', '.join(repr(float(v)) for v in pos[c])}] AS DOUBLE[]))"
        for s, pos in enumerate(positions)
        for c in range(len(pos))
    )
    return f"""
        WITH cents(sol, cl, cv) AS (VALUES
          {vals}),
        cent AS (SELECT sol, cl, r.range AS dim, cv[r.range] AS c FROM cents, range(1,65) r),
        adist AS (
          SELECT e.vec_id AS id, ct.sol, ct.cl,
                 sqrt(sum((e.embedding[ct.dim]::DOUBLE - ct.c)*(e.embedding[ct.dim]::DOUBLE - ct.c))) AS d
          FROM embeddings e, cent ct
          GROUP BY 1, 2, 3),
        asg AS (
          SELECT id, sol, cl AS cluster, d
          FROM (SELECT *, row_number() OVER (PARTITION BY id, sol ORDER BY d, cl) AS rn FROM adist)
          WHERE rn = 1),
        dev AS (SELECT sol, sum(d) AS dev FROM asg GROUP BY 1),
        pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        pd0 AS (
          SELECT a.id AS id, b.id AS nbr_id, unnest(a.v) AS x, unnest(b.v) AS y
          FROM pts a JOIN pts b ON a.id <> b.id),
        pd AS (SELECT id, nbr_id, sqrt(sum((x-y)*(x-y))) AS d FROM pd0 GROUP BY 1, 2),
        rk AS (SELECT id, nbr_id, row_number() OVER (PARTITION BY id ORDER BY d, nbr_id) AS rank FROM pd),
        conn AS (
          SELECT ai.sol, sum(CASE WHEN ai.cluster = aj.cluster THEN 1.0/rk.rank ELSE 0 END) AS conn
          FROM rk JOIN asg ai ON ai.id = rk.id
                  JOIN asg aj ON aj.id = rk.nbr_id AND aj.sol = ai.sol
          WHERE rk.rank <= {knn_l} GROUP BY 1)
        SELECT d.sol::INT AS solution, round(d.dev, 4) AS dev, round(c.conn, 4) AS conn,
               true AS kernel_ok
        FROM dev d JOIN conn c ON c.sol = d.sol
    """


def _fit_oracle_lineitem_sql(d: dict) -> str:
    """Oracle for mopso_fit_lineitem: global Dev recomputed from the
    recorded positions over lineitem in ONE scan (inline 4-dim distances,
    least() over the k=4 centers — no unnest, no per-point grouping);
    the partition-local Conn is pinned as a recorded regression literal
    (its layout semantics are invisible to SQL — documented weaker leg)."""
    positions = d["positions"]
    cols = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

    def dist_expr(center):
        # parenthesize the literal: a negative center would otherwise
        # render as `col--0.4`, which SQL lexes as a line comment
        terms = " + ".join(
            f"({col}-({repr(float(c))}))*({col}-({repr(float(c))}))"
            for col, c in zip(cols, center)
        )
        return f"sqrt({terms})"

    aggs = ", ".join(
        f"round(sum(least({', '.join(dist_expr(c) for c in pos)})), 0) AS d{s}"
        for s, pos in enumerate(positions)
    )
    union = " UNION ALL ".join(
        f"SELECT {s} AS sol, d{s} AS dev FROM agg" for s in range(len(positions))
    )
    kern = ", ".join(f"({s}, {repr(float(c))})" for s, c in enumerate(d["conn_rounded"]))
    return f"""
        WITH agg AS (SELECT {aggs} FROM lineitem),
        devs AS ({union}),
        kern(sol, conn) AS (VALUES {kern})
        SELECT devs.sol::INT AS solution, devs.dev AS dev, kern.conn::DOUBLE AS conn,
               true AS nondominated
        FROM devs JOIN kern ON kern.sol = devs.sol
    """


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from mopso_engine.session import build_session

    spark = build_session(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="gen-fit-oracle",
    )
    spark.sparkContext.setLogLevel("ERROR")

    res_e, _ = _fit_embeddings(spark, sf)
    res_f, _ = _fit_embeddings_full(spark, sf)
    res_l, _ = _fit_lineitem(spark, sf)
    from mopso_engine.objectives import _REDUCE_BLOCK_ROWS

    data = {
        "sf_dir": sf,
        # the reduction block size participates in the float-summation
        # grouping, so the recorded trajectories are only valid under the
        # SAME value
        "reduce_block_rows": _REDUCE_BLOCK_ROWS,
        "mopso_fit": {
            "positions": [p.tolist() for p in res_e.archive_positions],
            "fitness": res_e.archive_fitness.tolist(),
        },
        "mopso_fit_full": {
            "positions": [p.tolist() for p in res_f.archive_positions],
            "fitness": res_f.archive_fitness.tolist(),
        },
        "mopso_fit_lineitem": {
            "positions": [p.tolist() for p in res_l.archive_positions],
            "fitness": res_l.archive_fitness.tolist(),
            "conn_rounded": [round(float(f[1]), 4) for f in res_l.archive_fitness],
        },
    }
    out = sys.argv[2] if len(sys.argv) > 2 else _FIT_ORACLE_PATH
    with open(out, "w") as f:
        json.dump(data, f)
    print(
        f"wrote {out}: "
        f"mopso_fit={len(data['mopso_fit']['positions'])} entries, "
        f"mopso_fit_full={len(data['mopso_fit_full']['positions'])} entries, "
        f"mopso_fit_lineitem={len(data['mopso_fit_lineitem']['positions'])} entries"
    )
    spark.stop()


if __name__ == "__main__":
    main()
