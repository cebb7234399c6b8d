"""The MOPSO driver loop (SURVEY §3.4) — fit() orchestration.

Per-iteration shape: ONE distributed job scores the whole swarm (all S
candidate clusterings) against the cached neighbor-augmented points
table; everything else (PSO update, pbest, archive) is tiny driver-side
numpy. Compare the reference's per-iteration broadcast → per-partition
partials → collect → driver merge (Spark_MOPSO_Avg.scala:197-302).

Scale notes:
* the points table is scanned once per iteration, from cache, with zero
  data shuffle (only S·num_batches partial-agg rows move);
* the kNN precompute (the only quadratic step) runs ONCE per fit and has
  'partition_local' and 'lsh' backends for the 100 TB path;
* swarm/archive state is O(S·k·d) doubles — never leaves the driver.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from mopso_engine import init as init_mod
from mopso_engine import metrics as metrics_mod
from mopso_engine.assign import assign_with_labels
from mopso_engine.objectives import evaluate_solutions, with_neighbors
from mopso_engine.pareto import Archive, ArchiveEntry, normalize_fitness, pbest_update
from mopso_engine.pso import init_velocity, update_swarm
from mopso_engine.schema import MopsoConfig


@dataclass
class MopsoResult:
    archive_positions: list[np.ndarray]
    archive_fitness: np.ndarray  # (m, 2)
    archive_fitness_normalized: np.ndarray  # (m, 2)
    best_position: np.ndarray  # (k, d)
    best_index: int
    n_points: int
    n_features: int
    k: int
    iterations: int
    wall_clock_sec: float
    history: list[dict] = field(default_factory=list)
    #: kNN mode the fit ACTUALLY used after the exact→partition_local
    #: fallback (rescore must replay the same neighbor semantics)
    knn_mode_used: str = "exact"
    #: partition count of the deterministic (repartition(m,"id") +
    #: in-partition sort) layout, when the fit built one — with it a
    #: rescorer can rebuild the layout, and with it the partition-local
    #: neighbor sets, exactly; None = caller's layout was kept
    layout_partitions: int | None = None
    #: wall-clock decomposition of the fit: "setup" = stats + sample +
    #: layout + kNN persist + init fitness (the one-off per-job fixed
    #: costs), "iter_loop" = the driver-looped fitness passes, "finalize"
    #: = best-selection + normalization, plus "n_iters_run". Lets a
    #: reader of a slow fit's timings tell noise from a regression:
    #: per-iteration flat + setup inflated = launch-overhead/IO noise,
    #: per-iteration inflated = a real kernel regression.
    phase_sec: dict = field(default_factory=dict)

    def archive_df(self, spark) -> DataFrame:
        """The Pareto front as a DataFrame(solution, dev, conn, dev_norm, conn_norm)."""
        rows = [
            (i, float(f[0]), float(f[1]), float(nf[0]), float(nf[1]))
            for i, (f, nf) in enumerate(zip(self.archive_fitness, self.archive_fitness_normalized))
        ]
        return spark.createDataFrame(rows, "solution int, dev double, conn double, dev_norm double, conn_norm double")


class MopsoEngine:
    """Multi-objective PSO clustering on Spark DataFrames."""

    def __init__(self, config: MopsoConfig | None = None):
        self.cfg = config or MopsoConfig()

    # -- checkpointing -----------------------------------------------------
    @staticmethod
    def _checkpoint_path(checkpoint_dir: str) -> str:
        import os

        return os.path.join(checkpoint_dir, "mopso_checkpoint.json")

    @staticmethod
    def _save_checkpoint(path: str, state: dict) -> None:
        """Atomic JSON write (tmp + rename): a crash mid-save leaves the
        previous checkpoint intact. Doubles survive round-trip exactly —
        Python floats ARE IEEE doubles and json prints shortest-exact."""
        import json
        import os

        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    # -- main entry --------------------------------------------------------
    def fit(
        self,
        points: DataFrame,
        *,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
        resume: bool = False,
        stop_after: int | None = None,
        early_stop_patience: int | None = None,
    ) -> MopsoResult:
        """Run the fit; optionally checkpoint/resume the driver state.

        With ``checkpoint_dir``, the complete loop state (swarm,
        velocities, pbest, archive with crowding, RNG bit-generator
        state, history) is written atomically every ``checkpoint_every``
        iterations — it is O(S·k·d) doubles, exactly the state the
        design keeps on the driver, so a checkpoint costs microseconds
        and no Spark job. ``resume=True`` reloads it and continues to
        ``cfg.iter_max``: because every distributed input (stats, kNN
        precompute, layout) is a deterministic function of the data and
        config, a resumed fit is BIT-IDENTICAL to an uninterrupted one
        (tested) — fault tolerance for long fits without touching the
        per-iteration plan.

        ``stop_after`` halts (and checkpoints) after that iteration
        while KEEPING the full ``cfg.iter_max`` schedule — the way to
        model an interruption, because the inertia-weight schedule is a
        function of iter_max: a shorter-budget fit is NOT a prefix of a
        longer one (w_at differs), so interrupt-and-resume must share
        one config.

        ``early_stop_patience=p`` (opt-in; default None keeps the
        reference's fixed-budget semantics) breaks the loop once the
        archive's fitness front has been BIT-IDENTICAL for p consecutive
        iterations — each unproductive iteration still costs a full
        distributed fitness pass, so on converged corpora this saves
        real cluster time. The truncated run equals the prefix of the
        full run exactly (the loop has no lookahead)."""
        cfg = self.cfg
        rng = np.random.default_rng(cfg.seed)
        t0 = time.time()

        pts = points.select("id", "features", "label").persist()
        # ONE fused stats job (count + distinct-label + per-dim bounds):
        # see init.corpus_stats — three fewer full scans than r5's fit
        n, d, k, bounds = init_mod.corpus_stats(pts, cfg.k)
        sample = init_mod.sample_features(pts, cfg.init_sample_size, cfg.seed)
        t_stats_end = time.time()

        # Own the parallelism instead of inheriting the session default:
        # in exact mode results are partition-invariant, so size partitions
        # for the CPU-bound fitness kernel (~2k rows each, capped at 4×
        # cores). Hash-partition on id + sort within partitions: the layout
        # (and with it the float-summation order of the fitness partials)
        # becomes a pure function of the data — independent of input file
        # splits, cpu count and arrow batch size — so a seeded fit is
        # bit-reproducible across session configs (the property the
        # post-hoc fit oracle pins). partition_local mode keeps the
        # caller's layout — there partitioning IS the semantics (AvgLabel
        # repartitions by label).
        layout_partitions: int | None = None
        if cfg.fitness_mode == "exact":
            dp = points.sparkSession.sparkContext.defaultParallelism
            # ~256 rows per partition, capped at 4×cores. The fitness
            # kernel is the per-iteration cost and is compute-bound
            # (distances for S solutions per row): at the old ~2k floor a
            # 2000-row corpus ran the whole kernel on ONE core while the
            # rest idled — measured 0.60s/iter vs 0.24s at 8 partitions.
            # 256 rows is still ≳20× the ~10ms per-task
            # fixed cost; large corpora bind on the 4×cores cap as before.
            target = int(min(4 * dp, max(1, -(-n // 256))))
            pts_k = pts.repartition(target, "id").sortWithinPartitions("id")
            layout_partitions = target
        elif cfg.partition_by_label:
            # AvgLabel's layout affordance (Spark_MOPSO_Avg_labelPartition
            # .scala:77-85): co-locate each ground-truth label's rows so the
            # partition-local Conn neighborhoods are label-pure — and, with
            # the deterministic hash layout + in-partition sort, a seeded
            # avg_label fit replays identically.
            target = cfg.n_partitions or k
            pts_k = pts.repartition(target, "label").sortWithinPartitions("id")
        else:
            pts_k = pts

        # kNN precompute: solution-independent, reused by every iteration;
        # cache materializes lazily on the first fitness pass
        knn_mode = "partition_local" if cfg.fitness_mode == "partition_local" else cfg.knn_mode
        if knn_mode == "exact":
            from mopso_engine.objectives import MAX_EXACT_KNN_ROWS

            if n > MAX_EXACT_KNN_ROWS:
                # exact mode would broadcast the whole table — fall back to
                # the reference's own cluster-scale semantics
                knn_mode = "partition_local"
        nbr = with_neighbors(pts_k, cfg.knn_l, mode=knn_mode, n_rows=n).persist()
        part_weighted = cfg.fitness_mode == "partition_local"

        archive = Archive(
            capacity=cfg.archive_capacity,
            crowding_formula=cfg.crowding_formula,
            endpoint_bug=cfg.bug_compat.crowding_endpoint_bug,
        )
        history: list[dict] = []
        start_iter = 1
        setup_sub: dict = {"stats": round(t_stats_end - t0, 3)}
        if not resume:
            # materialize the kNN cache as its OWN timed step: the
            # hash-repartition + in-partition sort +
            # neighbor build + persist used to hide inside the init
            # fitness pass, leaving "setup" a single opaque wall that
            # elevated-host readings re-litigated every round. An extra
            # count() over the freshly-cached table costs milliseconds
            # and buys the decomposition (the resume path has done the
            # same materialize-first step since ADVICE r11).
            t_cache0 = time.time()
            nbr.count()
            t_cache_end = time.time()
            setup_sub["knn_cache"] = round(t_cache_end - t_cache0, 3)
            positions = init_mod.init_swarm(sample, bounds, k, cfg.n_particles, rng, method=cfg.init)
            velocities = init_velocity(rng, positions.shape, cfg.v_min, cfg.v_max)
            fitness = evaluate_solutions(nbr, positions, partition_weighted=part_weighted, n_total=n)
            pbest_pos = positions.copy()
            pbest_fit = fitness.copy()
            archive.update([ArchiveEntry(positions[i].copy(), fitness[i].copy()) for i in range(cfg.n_particles)])
            setup_sub["init_fitness"] = round(time.time() - t_cache_end, 3)
        else:
            # skip the init entirely (including its distributed fitness
            # job): every array below comes from the checkpoint, and the
            # restored RNG state already reflects the init's draws
            import json

            t_resume0 = time.time()
            if checkpoint_dir is None:
                raise ValueError("resume=True requires checkpoint_dir")
            with open(self._checkpoint_path(checkpoint_dir)) as f:
                st = json.load(f)
            if (
                st["seed"] != cfg.seed
                or st["n"] != n
                or st["k"] != k
                or st["d"] != d
                # iter_max is part of the fit's identity: w_at is a
                # function of it, so resuming under a different budget
                # would silently follow a different inertia schedule
                or st.get("iter_max") != cfg.iter_max
            ):
                raise ValueError(
                    "checkpoint was written by a different fit "
                    f"(seed/n/k/d/iter_max {st['seed']}/{st['n']}/{st['k']}/{st['d']}"
                    f"/{st.get('iter_max')} vs {cfg.seed}/{n}/{k}/{d}/{cfg.iter_max})"
                )
            positions = np.array(st["positions"], dtype=np.float64)
            velocities = np.array(st["velocities"], dtype=np.float64)
            pbest_pos = np.array(st["pbest_pos"], dtype=np.float64)
            pbest_fit = np.array(st["pbest_fit"], dtype=np.float64)
            archive.entries = [
                ArchiveEntry(
                    np.array(e["position"], dtype=np.float64),
                    np.array(e["fitness"], dtype=np.float64),
                    crowding=float(e["crowding"]),
                )
                for e in st["archive"]
            ]
            rng = np.random.default_rng()
            rng.bit_generator.state = st["rng_state"]
            history = st["history"]
            start_iter = int(st["iteration"]) + 1
            resumed_stable = int(st.get("stable_iters", 0))
            resumed_front = (
                np.array(st["prev_front"], dtype=np.float64).tobytes()
                if st.get("prev_front") is not None
                else None
            )
            # materialize the kNN cache NOW: a fresh fit pays the cache
            # build inside its init fitness pass (i.e. inside setup);
            # a resumed fit skips the init, so without this the FIRST
            # iteration would absorb the build and the phase telemetry
            # would charge one-off IO to iter_loop, inflating
            # sec_per_iter — the exact misread the decomposition exists
            # to prevent (ADVICE r11). The load+build wall is also
            # reported as its own resume_load phase.
            nbr.count()
            resume_load_sec = round(time.time() - t_resume0, 3)

        def _dump_state(iteration: int) -> None:
            self._save_checkpoint(
                self._checkpoint_path(checkpoint_dir),
                {
                    "iteration": iteration,
                    "seed": cfg.seed,
                    "n": n,
                    "d": d,
                    "k": k,
                    "rng_state": rng.bit_generator.state,
                    "positions": positions.tolist(),
                    "velocities": velocities.tolist(),
                    "pbest_pos": pbest_pos.tolist(),
                    "pbest_fit": pbest_fit.tolist(),
                    "archive": [
                        {
                            "position": e.position.tolist(),
                            "fitness": e.fitness.tolist(),
                            "crowding": e.crowding,
                        }
                        for e in archive.entries
                    ],
                    "history": history,
                    "iter_max": cfg.iter_max,
                    # early-stop streak travels with the checkpoint so a
                    # resumed run stops exactly where the uninterrupted
                    # one would (review finding)
                    "stable_iters": stable_iters,
                    "prev_front": (
                        np.frombuffer(prev_front, dtype=np.float64).reshape(-1, 2).tolist()
                        if prev_front is not None
                        else None
                    ),
                },
            )

        last_iter = cfg.iter_max if stop_after is None else min(int(stop_after), cfg.iter_max)
        if stop_after is not None and checkpoint_dir is None:
            raise ValueError("stop_after without checkpoint_dir would lose the fit state")
        t_setup_end = time.time()
        prev_front: bytes | None = None
        stable_iters = 0
        if resume:
            prev_front = resumed_front
            stable_iters = resumed_stable
        for iteration in range(start_iter, last_iter + 1):
            w = cfg.w_at(iteration)
            gbest = archive.global_best(rng)
            positions, velocities = update_swarm(
                positions, velocities, pbest_pos, gbest.position, w, cfg, rng, feature_bounds=bounds
            )
            fitness = evaluate_solutions(nbr, positions, partition_weighted=part_weighted, n_total=n)
            for i in range(cfg.n_particles):
                pbest_pos[i], pbest_fit[i] = pbest_update(
                    positions[i],
                    fitness[i],
                    pbest_pos[i],
                    pbest_fit[i],
                    rng,
                    frozen=cfg.bug_compat.pbest_frozen,
                    inverted=cfg.bug_compat.pbest_inverted,
                )
            archive.update([ArchiveEntry(positions[i].copy(), fitness[i].copy()) for i in range(cfg.n_particles)])
            front = archive.fitness_matrix()
            history.append(
                {
                    "iter": iteration,
                    "w": w,
                    "archive_size": len(archive.entries),
                    "best_dev": float(front[:, 0].min()),
                    "best_conn": float(front[:, 1].min()),
                }
            )
            # streak update BEFORE the dump so the checkpoint carries the
            # post-iteration counter; a triggered stop forces a terminal
            # dump even off the checkpoint_every grid (review findings)
            if early_stop_patience is not None:
                fb = front.tobytes()
                stable_iters = stable_iters + 1 if fb == prev_front else 0
                prev_front = fb
            should_stop = (
                early_stop_patience is not None and stable_iters >= early_stop_patience
            )
            if checkpoint_dir is not None and (
                iteration % max(1, checkpoint_every) == 0
                or iteration == last_iter
                or should_stop
            ):
                _dump_state(iteration)
            if should_stop:
                last_iter = iteration
                break

        t_loop_end = time.time()
        front = archive.fitness_matrix()
        norm = normalize_fitness(front)
        if cfg.select_best == "silhouette":
            # selectBestArchiveAsFinalResult (Spark_MOPSO_Avg.scala:578-602):
            # max squared-euclidean silhouette across archive entries — ONE
            # multi-solution stats pass + ONE coefficient pass for the whole
            # archive (silhouette_all_solutions) instead of 2 jobs per entry
            scores = metrics_mod.silhouette_all_solutions(
                pts, np.stack([e.position for e in archive.entries])
            )
            best_idx = int(np.argmax(scores))
        else:
            # knee: min normalized L2 to the ideal point
            best_idx = int(np.argmin((norm**2).sum(axis=1)))

        nbr.unpersist()
        pts.unpersist()
        t_end = time.time()
        phases = {
            "setup": round(t_setup_end - t0, 3),
            # named setup sub-walls: stats = the fused
            # read+stats job on the persisted corpus; knn_cache = the
            # layout repartition/sort + neighbor build + persist;
            # init_fitness = swarm init + the first distributed fitness
            # pass on the warm cache. Sub-walls sum slightly under
            # "setup" (driver glue) — an elevated setup reading is now
            # diagnosable: stats inflated = input IO, knn_cache
            # inflated = shuffle/layout, init_fitness inflated = the
            # kernel itself (compare sec/iter).
            "setup_phases": setup_sub,
            "iter_loop": round(t_loop_end - t_setup_end, 3),
            "finalize": round(t_end - t_loop_end, 3),
            "n_iters_run": max(0, last_iter - start_iter + 1),
        }
        if resume:
            # one-off checkpoint load + kNN cache build, reported
            # separately (it is INSIDE setup, never iter_loop) so a
            # resumed fit's sec_per_iter stays a pure kernel number
            phases["resume_load"] = resume_load_sec
            setup_sub["resume_load"] = resume_load_sec
        return MopsoResult(
            archive_positions=[e.position for e in archive.entries],
            archive_fitness=front,
            archive_fitness_normalized=norm,
            best_position=archive.entries[best_idx].position,
            best_index=best_idx,
            n_points=n,
            n_features=d,
            k=k,
            iterations=last_iter,
            wall_clock_sec=t_end - t0,
            history=history,
            knn_mode_used=knn_mode,
            layout_partitions=layout_partitions,
            phase_sec=phases,
        )

    def evaluate(self, points: DataFrame, result: MopsoResult) -> dict:
        """Post-fit evaluation suite (purity/accuracy/DBI/inertia), the
        reference's report body (Spark_MOPSO_Avg.scala:319-401)."""
        awl = assign_with_labels(points, result.best_position).persist()
        purity, accepted = metrics_mod.purity_accuracy(awl, result.n_points, result.k)
        out = {
            "purity": purity,
            "purity_accepted": accepted,
            "inertia": metrics_mod.inertia(awl),
            "dbi": metrics_mod.davies_bouldin(
                awl, result.best_position, max_not_reset=self.cfg.bug_compat.dbi_max_not_reset
            ),
            "cluster_sizes": {r["cluster"]: r["n"] for r in metrics_mod.cluster_sizes(awl).collect()},
        }
        awl.unpersist()
        return out
