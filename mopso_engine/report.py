"""Run report (SURVEY S5/S6/F11) — JSON instead of the reference's
bilingual text lines (Spark_MOPSO_Avg.scala:679-799), same content:
config echo, wall clock, Pareto front (raw + min-max normalized),
per-label purity, and the side-by-side MLlib-KMeans baseline.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from mopso_engine import metrics as metrics_mod
from mopso_engine.engine import MopsoEngine, MopsoResult
from mopso_engine.init import kmeans_centers


def build_report(engine: MopsoEngine, points: DataFrame, result: MopsoResult, *, kmeans_baseline: bool = True) -> dict:
    cfg = engine.cfg
    report = {
        "config": {
            "n_particles": cfg.n_particles,
            "archive_capacity": cfg.archive_capacity,
            "iter_max": cfg.iter_max,
            "knn_l": cfg.knn_l,
            "c1": cfg.c1,
            "c2": cfg.c2,
            "w_schedule": cfg.w_schedule,
            "crowding_formula": cfg.crowding_formula,
            "fitness_mode": cfg.fitness_mode,
            "seed": cfg.seed,
        },
        "data": {"n": result.n_points, "d": result.n_features, "k": result.k},
        "wall_clock_sec": result.wall_clock_sec,
        "archive": [
            {
                "solution": i,
                "dev": float(f[0]),
                "conn": float(f[1]),
                "dev_norm": float(nf[0]),
                "conn_norm": float(nf[1]),
                "centers": np.asarray(p).tolist(),
            }
            for i, (f, nf, p) in enumerate(
                zip(result.archive_fitness, result.archive_fitness_normalized, result.archive_positions)
            )
        ],
        "best_index": result.best_index,
        "mopso_eval": engine.evaluate(points, result),
        "history": result.history,
    }
    # per-archive-solution purity, all solutions in ONE distributed pass
    # (the reference runs k·|archive| jobs here, Spark_MOPSO_Avg.scala:325-356)
    stack = np.stack(result.archive_positions)
    per_sol: dict[int, list] = {}
    for r in metrics_mod.purity_all_solutions(points, stack).collect():
        per_sol.setdefault(r["solution"], []).append(r)
    for i, entry in enumerate(report["archive"]):
        rows = per_sol.get(i, [])
        got = sum(r["modal_count"] for r in rows)
        entry["purity"] = got / result.n_points if result.n_points else 0.0
        entry["purity_accepted"] = len({r["modal_cluster"] for r in rows}) == result.k
    if kmeans_baseline:
        km = kmeans_centers(points, result.k, seed=cfg.seed)
        ev = metrics_mod.assignment_report(points, km, result.n_points)
        report["kmeans_baseline"] = {
            "purity": ev["purity"],
            "purity_accepted": ev["purity_accepted"],
            "inertia": ev["inertia"],
            "centers": np.asarray(km).tolist(),
        }
    return report


def render_report_text(
    report: dict,
    *,
    dataset_path: str = "",
    output_path: str = "",
    base_setting: str = "",
) -> list[str]:
    """The reference's raw text-report line format
    (`showAndSaveArchive`, Spark_MOPSO_Avg.scala:679-799): bilingual
    labels, `dev,conn` fitness CSV lines (raw then min-max normalized),
    and per-cluster `... Center Point of Cluster N==》  x,y,...` center
    dumps — so a user diffing against reference output sees the same
    shape. Content comes from the JSON report (build_report); this is a
    pure driver-side rendering, saved with :func:`save_report_text`
    (coalesce(1) text sink = the reference's saveAsTextFile)."""
    lines: list[str] = []
    lines.append(base_setting + "\n")
    lines.append("数据集：" + dataset_path + "\n")
    lines.append("结果存档：" + output_path + "\n")
    lines.append("运行时间为：" + str(report.get("wall_clock_sec", 0.0)) + "\n")

    archive = report.get("archive", [])
    n_sol = len(archive)
    # fitness is 2-objective (dev, conn) throughout, like the reference
    lines.append(f"外部存档解的形状：{n_sol}x2,外部存档的适应度值：")
    for e in archive:
        lines.append(f"{e['dev']},{e['conn']}")
    lines.append("\n")
    lines.append(f"归一化后外部存档解的形状：{n_sol}x2,外部存档的适应度值：")
    for e in archive:
        lines.append(f"{e['dev_norm']},{e['conn_norm']}")
    lines.append("\n")

    for e in archive:
        for ci, center in enumerate(e["centers"]):
            coords = ",".join(str(float(v)) for v in center)
            lines.append(f"MOPSO Center Point of Cluster {ci + 1}==》  {coords}")
        lines.append("\n")

    for ci, center in enumerate(report.get("kmeans_baseline", {}).get("centers", [])):
        coords = ",".join(str(float(v)) for v in center)
        lines.append(f"Kmeans Center Point of Cluster {ci + 1}==》  {coords}")

    lines.append("\n")
    lines.append("所有存档的分布情况")
    for i, e in enumerate(archive):
        lines.append(
            f"solution {i}: purity={e.get('purity', 0.0)},accepted={e.get('purity_accepted', False)}"
        )
        lines.append("\n")
    lines.append("\n")
    lines.append("kmeans 的分布情况")
    kb = report.get("kmeans_baseline")
    if kb:
        lines.append(f"purity={kb['purity']},accepted={kb['purity_accepted']}")
    return lines


def save_report_text(spark, lines: list[str], path: str) -> None:
    """Single-partition text sink — the reference's
    ``sc.parallelize(lines, 1).saveAsTextFile(outputPath)``
    (Spark_MOPSO_Avg.scala:797) re-expressed as a coalesce(1) DataFrame
    text write."""
    from pyspark.sql import Row

    spark.createDataFrame([Row(value=ln) for ln in lines]).coalesce(1).write.mode(
        "overwrite"
    ).text(path)
