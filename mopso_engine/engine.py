"""The MOPSO driver loop (SURVEY §3.4) — fit() orchestration.

Per-iteration shape: ONE distributed job scores the whole swarm (all S
candidate clusterings) against the cached neighbor-augmented points
table; everything else (PSO update, pbest, archive) is tiny driver-side
numpy. Compare the reference's per-iteration broadcast → per-partition
partials → collect → driver merge (Spark_MOPSO_Avg.scala:197-302).

Scale notes:
* the points table is scanned once per iteration, from cache, with zero
  data shuffle (only S·num_batches partial-agg rows move);
* the set-up (counts, bounds, labels, ingest checks, the init sample)
  is ONE pass over the input, and the fit keeps no copy of it;
* the kNN precompute (the only quadratic step) runs ONCE per fit and is
  released on every exit;
* swarm/archive state is O(S·k·d) doubles — never leaves the driver.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from mopso_engine import init as init_mod
from mopso_engine import metrics as metrics_mod
# not called here; the benchmark's tracer wraps ``engine.assign_with_labels``
from mopso_engine.assign import assign_with_labels  # noqa: F401
from mopso_engine.objectives import _release_knn, evaluate_solutions, with_neighbors
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
    #: the fit's kNN scope, always ``cfg.fitness_mode`` (rescore replays
    #: the same neighbor semantics with it)
    knn_mode_used: str = "exact"
    #: partition count of the deterministic (repartition(m,"id") +
    #: in-partition sort) layout, when the fit built one — with it a
    #: rescorer can rebuild the layout, and with it the partition-local
    #: neighbor sets, exactly; None = caller's layout was kept
    layout_partitions: int | None = None
    #: wall-clock decomposition of the fit: "setup" = the set-up pass +
    #: layout + kNN persist + init fitness (the one-off per-job fixed
    #: costs), "iter_loop" = the driver-looped fitness passes, "finalize"
    #: = best-selection + normalization, plus "n_iters_run". Lets a
    #: reader of a slow fit's timings tell noise from a regression:
    #: per-iteration flat + setup inflated = launch-overhead/IO noise,
    #: per-iteration inflated = a real kernel regression.
    #: "setup_phases" splits setup into "stats" (the one set-up pass of
    #: init.corpus_stats: counts, bounds, labels, ingest checks and the
    #: init sample), "knn_cache" (layout + the whole neighbor build, exact
    #: mode's collect + broadcast included, + persist) and either
    #: "init_fitness" (swarm init + the first fitness pass) or, on
    #: resume, "resume_load" (the checkpoint read only; also reported at
    #: the top level).
    phase_sec: dict = field(default_factory=dict)

    def archive_df(self, spark) -> DataFrame:
        """The Pareto front as a DataFrame(solution, dev, conn, dev_norm, conn_norm)."""
        rows = [
            (i, float(f[0]), float(f[1]), float(nf[0]), float(nf[1]))
            for i, (f, nf) in enumerate(zip(self.archive_fitness, self.archive_fitness_normalized))
        ]
        return spark.createDataFrame(rows, "solution int, dev double, conn double, dev_norm double, conn_norm double")


@dataclass
class _LoopState:
    """The fit loop's complete state: swarm, velocities, pbests, the
    archive with its crowding values, the RNG and the history. It is
    O(S·k·d) doubles on the driver, so a checkpoint costs microseconds
    and no Spark job."""

    iteration: int
    positions: np.ndarray
    velocities: np.ndarray
    pbest_pos: np.ndarray
    pbest_fit: np.ndarray
    archive: Archive
    rng: np.random.Generator
    history: list[dict]
    #: early-stop streak (iterations with a bit-identical front, and that
    #: front's bytes): checkpointed so a resumed run stops exactly where
    #: the uninterrupted one would
    stable_iters: int = 0
    prev_front: bytes | None = None

    def save(self, path: str, ident: dict) -> None:
        """Atomic JSON write (tmp + rename): a crash mid-save leaves the
        previous checkpoint intact. Doubles survive round-trip exactly —
        Python floats ARE IEEE doubles and json prints shortest-exact."""
        front = self.prev_front
        state = {
            **ident,
            "iteration": self.iteration,
            "rng_state": self.rng.bit_generator.state,
            "positions": self.positions.tolist(),
            "velocities": self.velocities.tolist(),
            "pbest_pos": self.pbest_pos.tolist(),
            "pbest_fit": self.pbest_fit.tolist(),
            "archive": [
                {"position": e.position.tolist(), "fitness": e.fitness.tolist(), "crowding": e.crowding}
                for e in self.archive.entries
            ],
            "history": self.history,
            "stable_iters": self.stable_iters,
            "prev_front": None if front is None else np.frombuffer(front, dtype=np.float64).reshape(-1, 2).tolist(),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str, ident: dict, archive: Archive) -> "_LoopState":
        """Restore the state :meth:`save` wrote, into ``archive``. The
        checkpoint must carry the same ``ident``: iter_max belongs to it
        because w_at is a function of it, so resuming under a different
        budget would silently follow a different inertia schedule."""
        with open(path) as f:
            st = json.load(f)
        written = {key: st.get(key) for key in ident}
        if written != ident:
            raise ValueError(f"checkpoint was written by a different fit ({written} vs {ident})")
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
        front = st.get("prev_front")
        return cls(
            iteration=int(st["iteration"]),
            positions=np.array(st["positions"], dtype=np.float64),
            velocities=np.array(st["velocities"], dtype=np.float64),
            pbest_pos=np.array(st["pbest_pos"], dtype=np.float64),
            pbest_fit=np.array(st["pbest_fit"], dtype=np.float64),
            archive=archive,
            rng=rng,
            history=st["history"],
            stable_iters=int(st.get("stable_iters", 0)),
            prev_front=None if front is None else np.array(front, dtype=np.float64).tobytes(),
        )


class MopsoEngine:
    """Multi-objective PSO clustering on Spark DataFrames."""

    def __init__(self, config: MopsoConfig | None = None):
        self.cfg = config or MopsoConfig()

    def fit(
        self,
        points: DataFrame,
        *,
        checkpoint_dir: str | None = None,
        resume: bool = False,
        stop_after: int | None = None,
        early_stop_patience: int | None = None,
    ) -> MopsoResult:
        """Run the fit; optionally checkpoint/resume the driver state.

        With ``checkpoint_dir``, the complete loop state (swarm,
        velocities, pbest, archive with crowding, RNG bit-generator
        state, history, early-stop streak) is written atomically after
        every iteration — it is O(S·k·d) doubles, exactly the state the
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
        one config. ``resume`` and ``stop_after`` need ``checkpoint_dir``.

        ``early_stop_patience=p`` (opt-in; default None keeps the
        reference's fixed-budget semantics) breaks the loop once the
        archive's fitness front has been BIT-IDENTICAL for p consecutive
        iterations — each unproductive iteration still costs a full
        distributed fitness pass, so on converged corpora this saves
        real cluster time. The truncated run equals the prefix of the
        full run exactly (the loop has no lookahead)."""
        if (resume or stop_after is not None) and checkpoint_dir is None:
            raise ValueError("resume and stop_after need checkpoint_dir: without it the fit state is lost")
        cfg = self.cfg
        t0 = time.time()

        # ONE set-up job (counts, labels, bounds, ingest checks and the
        # seeded init sample): see init.corpus_stats. The fit keeps no
        # copy of the input; the kNN build and the silhouette pick read
        # the caller's plan, as the report functions do.
        pts = points.select("id", "features", "label")
        n, d, k, bounds, sample = init_mod.corpus_stats(pts, cfg.k, cfg.init_sample_size, cfg.seed)
        if k > n:
            # k above the number of DISTINCT points fits (centers coincide)
            raise ValueError(f"k={k} clusters but the points table has n={n} rows; k must be at most n")
        t_stats_end = time.time()

        # Own the parallelism instead of inheriting the session default:
        # in exact mode results are partition-invariant, so size partitions
        # for the CPU-bound fitness kernel (~256 rows each, capped at 4×
        # cores). Hash-partition on id + sort within partitions: the layout
        # (and with it the float-summation order of the fitness partials)
        # is independent of input file splits and arrow batch size. It is
        # NOT independent of the cpu count: above 1024 rows per core the
        # 4×cores cap sets the partition count, so the summation order
        # (and the fitness's last bits) follow the core count (ROADMAP
        # item 6). Below that a seeded fit is bit-reproducible across
        # session configs (the property the post-hoc fit oracle pins).
        # partition_local mode keeps the
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
            # A Python task's fixed cost is ~75 ms of a core on a 4-core
            # host (empty mapInPandas tasks on local[4] with
            # worker.prepare; ~270 ms without it), so small corpora pay
            # mostly that; large corpora bind on the 4×cores cap.
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

        # kNN precompute: solution-independent, reused by every iteration.
        # fitness_mode is the scope; an exact fit above MAX_EXACT_KNN_ROWS
        # fails here, before the kNN map's collect. The exact scope
        # collects its reference set from the input, not from pts_k: the
        # broadcast is sorted by id, so the layout's shuffle runs once.
        nbr = with_neighbors(pts_k, cfg.knn_l, mode=cfg.fitness_mode, n_rows=n, collect_from=pts).persist()
        try:
            # materialize the cache as its own timed step, so neither the
            # init fitness pass nor a resumed fit's first iteration absorbs
            # the build (that would inflate sec/iter with one-off IO). A
            # noop write takes one Spark job fewer than count() under AQE.
            nbr.write.format("noop").mode("overwrite").save()
            t_cache_end = time.time()
            setup_sub: dict = {"stats": round(t_stats_end - t0, 3), "knn_cache": round(t_cache_end - t_stats_end, 3)}
            part_weighted = cfg.fitness_mode == "partition_local"

            archive = Archive(
                capacity=cfg.archive_capacity,
                crowding_formula=cfg.crowding_formula,
                endpoint_bug=cfg.bug_compat.crowding_endpoint_bug,
            )
            ckpt = None if checkpoint_dir is None else os.path.join(checkpoint_dir, "mopso_checkpoint.json")
            ident = {"seed": cfg.seed, "n": n, "d": d, "k": k, "iter_max": cfg.iter_max}
            if resume:
                # the restored RNG state already reflects the init's draws, so
                # the init and its distributed fitness pass are skipped
                state = _LoopState.load(ckpt, ident, archive)
                setup_sub["resume_load"] = round(time.time() - t_cache_end, 3)
            else:
                rng = np.random.default_rng(cfg.seed)
                positions = init_mod.init_swarm(sample, bounds, k, cfg.n_particles, rng, method=cfg.init)
                velocities = init_velocity(rng, positions.shape, cfg.v_min, cfg.v_max)
                fitness = evaluate_solutions(nbr, positions, partition_weighted=part_weighted, n_total=n)
                archive.update([ArchiveEntry(p.copy(), f.copy()) for p, f in zip(positions, fitness)])
                state = _LoopState(0, positions, velocities, positions.copy(), fitness.copy(), archive, rng, [])
                setup_sub["init_fitness"] = round(time.time() - t_cache_end, 3)

            last_iter = cfg.iter_max if stop_after is None else min(int(stop_after), cfg.iter_max)
            first_iter = state.iteration
            t_setup_end = time.time()
            for iteration in range(first_iter + 1, last_iter + 1):
                w = cfg.w_at(iteration)
                gbest = state.archive.global_best(state.rng)
                state.positions, state.velocities = update_swarm(
                    state.positions, state.velocities, state.pbest_pos, gbest.position, w, cfg, state.rng,
                    feature_bounds=bounds,
                )
                fitness = evaluate_solutions(nbr, state.positions, partition_weighted=part_weighted, n_total=n)
                for i in range(cfg.n_particles):
                    state.pbest_pos[i], state.pbest_fit[i] = pbest_update(
                        state.positions[i],
                        fitness[i],
                        state.pbest_pos[i],
                        state.pbest_fit[i],
                        state.rng,
                        frozen=cfg.bug_compat.pbest_frozen,
                        inverted=cfg.bug_compat.pbest_inverted,
                    )
                state.archive.update([ArchiveEntry(p.copy(), f.copy()) for p, f in zip(state.positions, fitness)])
                front = state.archive.fitness_matrix()
                state.history.append(
                    {
                        "iter": iteration,
                        "w": w,
                        "archive_size": len(state.archive.entries),
                        "best_dev": float(front[:, 0].min()),
                        "best_conn": float(front[:, 1].min()),
                    }
                )
                state.iteration = iteration
                if early_stop_patience is not None:
                    fb = front.tobytes()
                    state.stable_iters = state.stable_iters + 1 if fb == state.prev_front else 0
                    state.prev_front = fb
                if ckpt is not None:
                    state.save(ckpt, ident)
                if early_stop_patience is not None and state.stable_iters >= early_stop_patience:
                    break

            t_loop_end = time.time()
            entries = state.archive.entries
            front = state.archive.fitness_matrix()
            norm = normalize_fitness(front)
            if cfg.select_best == "silhouette":
                # selectBestArchiveAsFinalResult (Spark_MOPSO_Avg.scala:578-602):
                # max squared-euclidean silhouette across archive entries — ONE
                # multi-solution stats pass + ONE coefficient pass for the whole
                # archive (silhouette_all_solutions) instead of 2 jobs per entry
                scores = metrics_mod.silhouette_all_solutions(pts, np.stack([e.position for e in entries]))
                best_idx = int(np.argmax(scores))
            else:
                # knee: min normalized L2 to the ideal point
                best_idx = int(np.argmin((norm**2).sum(axis=1)))
        finally:
            nbr.unpersist()
            _release_knn(nbr)
        t_end = time.time()
        phases = {
            "setup": round(t_setup_end - t0, 3),
            # sub-walls sum slightly under "setup" (driver glue); an
            # elevated setup is diagnosable: stats inflated = input IO,
            # knn_cache inflated = shuffle/layout, init_fitness inflated =
            # the kernel itself (compare sec/iter)
            "setup_phases": setup_sub,
            "iter_loop": round(t_loop_end - t_setup_end, 3),
            "finalize": round(t_end - t_loop_end, 3),
            "n_iters_run": state.iteration - first_iter,
        }
        if resume:
            phases["resume_load"] = setup_sub["resume_load"]
        return MopsoResult(
            archive_positions=[e.position for e in entries],
            archive_fitness=front,
            archive_fitness_normalized=norm,
            best_position=entries[best_idx].position,
            best_index=best_idx,
            n_points=n,
            n_features=d,
            k=k,
            iterations=state.iteration,
            wall_clock_sec=t_end - t0,
            history=state.history,
            knn_mode_used=cfg.fitness_mode,
            layout_partitions=layout_partitions,
            phase_sec=phases,
        )

    def evaluate(self, points: DataFrame, result: MopsoResult) -> dict:
        """Post-fit evaluation suite (purity/accuracy/DBI/inertia/cluster
        sizes), the reference's report body (Spark_MOPSO_Avg.scala:319-401),
        from one assignment pass (:func:`metrics.assignment_report`)."""
        return metrics_mod.assignment_report(
            points, result.best_position, result.n_points, max_not_reset=self.cfg.bug_compat.dbi_max_not_reset
        )
