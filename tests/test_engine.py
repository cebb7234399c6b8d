import functools

import numpy as np
import pytest

from mopso_engine import MopsoConfig, MopsoEngine
from mopso_engine.pareto import non_dominated_mask
from tests.conftest import make_blobs


@pytest.fixture(scope="module")
def small_cfg():
    return MopsoConfig(n_particles=8, iter_max=3, knn_l=5, seed=42, init_sample_size=300)


def test_fit_end_to_end(blobs_df, small_cfg, blobs):
    _, x, labels, _ = blobs
    eng = MopsoEngine(small_cfg)
    res = eng.fit(blobs_df)
    assert res.n_points == len(x)
    assert res.k == 3
    assert 1 <= len(res.archive_positions) <= small_cfg.archive_capacity
    assert non_dominated_mask(res.archive_fitness).all()
    assert res.archive_fitness_normalized.min() >= 0.0
    assert res.archive_fitness_normalized.max() <= 1.0
    ev = eng.evaluate(blobs_df, res)
    assert ev["purity"] > 0.9  # easy blobs: near-perfect clustering


def test_fit_deterministic_same_seed(blobs_df, small_cfg):
    r1 = MopsoEngine(small_cfg).fit(blobs_df)
    r2 = MopsoEngine(small_cfg).fit(blobs_df)
    np.testing.assert_allclose(r1.archive_fitness, r2.archive_fitness, rtol=1e-12)
    np.testing.assert_allclose(r1.best_position, r2.best_position, rtol=1e-12)


def test_fit_partition_count_invariance_exact_mode(spark, blobs_df, small_cfg):
    """exact fitness mode: results independent of partitioning (SURVEY §5.5)."""
    r1 = MopsoEngine(small_cfg).fit(blobs_df.repartition(2))
    r2 = MopsoEngine(small_cfg).fit(blobs_df.repartition(7))
    np.testing.assert_allclose(
        np.sort(r1.archive_fitness, axis=0), np.sort(r2.archive_fitness, axis=0), rtol=1e-9
    )


def test_variant_factory_flags():
    s = MopsoConfig.variant("single")
    assert (s.w_schedule, s.crowding_formula, s.c1, s.c2) == ("decreasing", "product", 1.42, 1.63)
    assert s.position_bounds and s.bug_compat.pbest_inverted and not s.bug_compat.pbest_frozen
    a = MopsoConfig.variant("avg")
    assert (a.w_schedule, a.crowding_formula, a.fitness_mode) == ("increasing", "avg", "partition_local")
    assert a.bug_compat.pbest_frozen
    p = MopsoConfig.variant("particle")
    assert not p.velocity_resample and p.fitness_mode == "exact"
    assert MopsoConfig.variant("avg_label", iter_max=7).iter_max == 7
    with pytest.raises(ValueError):
        MopsoConfig.variant("nope")


def test_variant_avg_runs_e2e(blobs_df):
    cfg = MopsoConfig.variant("avg", n_particles=4, iter_max=2, knn_l=5, seed=2)
    res = MopsoEngine(cfg).fit(blobs_df.repartition(3))
    assert len(res.archive_positions) >= 1


@pytest.mark.parametrize(
    "make", [MopsoConfig, functools.partial(MopsoConfig.variant, "avg")], ids=["config", "variant"]
)
@pytest.mark.parametrize(
    "field,bad",
    [
        ("fitness_mode", "global"),
        ("w_schedule", "decreasng"),
        ("crowding_formula", "sum"),
        ("select_best", "Silhouette"),
        ("init", "kmeans"),
    ],
)
def test_config_rejects_unknown_choice(make, field, bad):
    """An enumerated field outside what the engine handles fails at
    construction, not after the kNN build (init), at iteration 1
    (w_schedule), at the first archive overflow (crowding_formula) or
    never (select_best falls back to the knee)."""
    with pytest.raises(ValueError, match=field):
        make(**{field: bad})


def test_config_has_one_scope_field():
    """fitness_mode alone picks the kNN scope: there is no knn_mode."""
    with pytest.raises(TypeError, match="knn_mode"):
        MopsoConfig(knn_mode="exact")


def test_w_schedules():
    cfg = MopsoConfig(iter_max=30)
    assert cfg.w_at(0) == pytest.approx(0.9)
    assert cfg.w_at(30) == pytest.approx(0.4)
    inc = MopsoConfig(iter_max=30, w_schedule="increasing")
    # as-implemented reference formula grows past 1 (Spark_MOPSO_Avg.scala:199)
    assert inc.w_at(30) == pytest.approx((0.9 + 30 * 0.5) / 30)


def test_silhouette_selection(blobs_df):
    cfg = MopsoConfig(n_particles=4, iter_max=1, knn_l=5, seed=3, select_best="silhouette")
    res = MopsoEngine(cfg).fit(blobs_df)
    assert 0 <= res.best_index < len(res.archive_positions)


def test_partition_census(blobs_df):
    from mopso_engine.metrics import partition_census

    rows = partition_census(blobs_df.repartition(3)).collect()
    assert sum(r["n"] for r in rows) == blobs_df.count()
    assert {r["partition"] for r in rows} <= {0, 1, 2}


def test_partition_local_mode_runs(blobs_df):
    cfg = MopsoConfig(n_particles=4, iter_max=2, knn_l=5, fitness_mode="partition_local", seed=1)
    res = MopsoEngine(cfg).fit(blobs_df.repartition(3))
    assert len(res.archive_positions) >= 1


def test_avg_label_layout_reproducible(blobs_df):
    """AvgLabel semantics (SURVEY §7.4.4): with a DETERMINISTIC layout —
    repartition(n, 'label') — partition_local fitness is reproducible
    run-to-run (random round-robin layouts are documented as not)."""
    cfg = MopsoConfig.variant("avg_label", n_particles=4, iter_max=2, knn_l=5, seed=9)
    r1 = MopsoEngine(cfg).fit(blobs_df.repartition(2, "label"))
    r2 = MopsoEngine(cfg).fit(blobs_df.repartition(2, "label"))
    np.testing.assert_allclose(
        np.sort(r1.archive_fitness, axis=0), np.sort(r2.archive_fitness, axis=0), rtol=1e-12
    )


def test_partition_local_survives_empty_and_singleton_partitions(spark):
    """More partitions than rows → empty partitions and 1-row partitions
    (no neighbors) must not crash the local-kNN kernel."""
    rows = [(i, [float(i), 0.0], 1 + i % 2) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label int").repartition(10)
    cfg = MopsoConfig(k=2, n_particles=3, iter_max=1, knn_l=3, fitness_mode="partition_local", seed=0)
    res = MopsoEngine(cfg).fit(df)
    assert len(res.archive_positions) >= 1


def test_avg_label_engine_affordance_replays_identically(blobs_df):
    """partition_by_label=True: the ENGINE owns the label co-location
    (Spark_MOPSO_Avg_labelPartition.scala:77-85) — no caller repartition —
    and two seeded fits produce bit-identical archives."""
    cfg = MopsoConfig.variant("avg_label", n_particles=4, iter_max=2, knn_l=5, seed=9)
    assert cfg.partition_by_label
    r1 = MopsoEngine(cfg).fit(blobs_df)
    r2 = MopsoEngine(cfg).fit(blobs_df)
    np.testing.assert_array_equal(r1.archive_fitness, r2.archive_fitness)
    for p1, p2 in zip(r1.archive_positions, r2.archive_positions):
        np.testing.assert_array_equal(p1, p2)


def test_rescore_partition_local_agrees_with_kernel(blobs_df, blobs):
    """The partition_local rescore is the relational oracle of the
    partition-local neighbor sets: on the hash layout it rebuilds from
    ``layout_partitions``, and on a layout it is given with
    ``layout_partitions=None`` (how a fit that scored the caller's layout
    reports it), its Dev/Conn agree with the fitness kernel's
    (unweighted) over the same layout."""
    import math

    from mopso_engine.objectives import evaluate_solutions, with_neighbors
    from mopso_engine.rescore import rescore_archive

    _, _, _, c = blobs
    rng = np.random.default_rng(4)
    stack = np.stack([c, c + rng.normal(scale=0.5, size=c.shape), rng.normal(scale=5.0, size=c.shape)])
    m = 3
    layout = blobs_df.repartition(m, "id").sortWithinPartitions("id")
    kernel = evaluate_solutions(with_neighbors(layout, 5, mode="partition_local"), stack)
    rebuilt = rescore_archive(blobs_df, list(stack), knn_l=5, knn_mode="partition_local", layout_partitions=m)
    given = rescore_archive(layout, list(stack), knn_l=5, knn_mode="partition_local", layout_partitions=None)
    for rows in (rebuilt, given):
        assert [s for s, _, _ in rows] == [0, 1, 2]
        for s, dev, conn in rows:
            assert math.isclose(kernel[s, 0], dev, rel_tol=1e-6)
            assert math.isclose(kernel[s, 1], conn, rel_tol=1e-6)


@pytest.mark.parametrize("knn_mode", ["exact", "partition_local"])
def test_rescore_rejects_duplicate_ids(spark, knn_mode):
    """A duplicated id fails the rescore with an error naming it, rather
    than counting the row as its own nearest neighbour."""
    from mopso_engine.rescore import rescore_archive

    pts = spark.createDataFrame(
        [(1, [0.0], 0), (2, [5.0], 0), (2, [1.0], 0), (3, [9.0], 0)], "id long, features array<double>, label int"
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate id 2"):
        rescore_archive(pts, [np.array([[0.0], [9.0]])], knn_l=2, knn_mode=knn_mode)


def test_rescore_exact_runs_five_jobs_and_persists_nothing(spark, blobs_df, blobs):
    """The exact rescore is one collect (the kNN reference set), two
    broadcasts of the multi-solution assignment and the one aggregate's
    two stages: at most 5 Spark jobs, counted by job group. It re-lays
    out and persists nothing, so no RDD is left persisted."""
    from mopso_engine.rescore import rescore_archive

    _, _, _, c = blobs
    rng = np.random.default_rng(4)
    stack = [c, c + rng.normal(scale=5.0, size=c.shape)]
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    group = "rescore-exact-jobs"
    sc.setJobGroup(group, "exact rescore")
    try:
        rows = rescore_archive(blobs_df, stack, knn_l=5, n_rows=300, knn_mode="exact")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [s for s, _, _ in rows] == [0, 1]
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted


def test_exact_fit_above_the_cap_fails_before_the_knn_build(spark, blobs_df, small_cfg, monkeypatch):
    """An exact fit above MAX_EXACT_KNN_ROWS raises, naming the
    partition-local scope, and runs no job after the set-up pass: neither
    the kNN collect nor the kNN map. It does not turn partition-local."""
    import mopso_engine.engine as eng_mod
    import mopso_engine.init as init_mod
    import mopso_engine.objectives as obj

    sc = spark.sparkContext
    group = "exact-above-cap"
    setup = init_mod.corpus_stats

    def setup_then_watch(*a, **kw):
        out = setup(*a, **kw)
        sc.setJobGroup(group, "jobs after the set-up pass")
        return out

    def later_job(*a, **kw):
        raise AssertionError("a fitness pass ran")

    monkeypatch.setattr(obj, "MAX_EXACT_KNN_ROWS", 50)  # blobs >> 50 rows
    monkeypatch.setattr(init_mod, "corpus_stats", setup_then_watch)
    monkeypatch.setattr(eng_mod, "evaluate_solutions", later_job)
    try:
        with pytest.raises(ValueError, match=r"300 rows .*fitness_mode='partition_local'"):
            MopsoEngine(small_cfg).fit(blobs_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.fixture
def broadcasts(spark, monkeypatch):
    """The broadcasts the session makes while the test runs."""
    made = []
    orig = type(spark.sparkContext).broadcast

    def recording(sc, value):
        bc = orig(sc, value)
        made.append(bc)
        return bc

    monkeypatch.setattr(type(spark.sparkContext), "broadcast", recording)
    return made


@pytest.mark.parametrize("consumer", ["fit", "rescore_archive", "silhouette_exact"])
def test_exact_broadcasts_released(blobs_df, small_cfg, broadcasts, consumer):
    """Every broadcast an exact-scope consumer creates (the kNN map's
    (ids, features) table, the exact silhouette's rows) is destroyed by
    the time the consumer returns: the driver keeps no N·d·8-byte copy
    for the ContextCleaner, and the broadcast's file is gone."""
    import os

    from mopso_engine import metrics
    from mopso_engine.assign import assign
    from mopso_engine.rescore import rescore_archive

    if consumer == "fit":
        res = MopsoEngine(small_cfg).fit(blobs_df)
        assert res.knn_mode_used == "exact"
    elif consumer == "rescore_archive":
        _, _, _, c = make_blobs()
        rescore_archive(blobs_df, [c], knn_l=5, knn_mode="exact")
    else:
        _, _, _, c = make_blobs()
        metrics.silhouette_exact(blobs_df, assign(blobs_df, c))
    assert broadcasts
    assert [os.path.exists(bc._path) for bc in broadcasts] == [False] * len(broadcasts)


def test_exact_mode_layout_invariance_bitwise(blobs_df, small_cfg):
    """The engine's hash-by-id layout makes an exact-mode fit BIT-identical
    regardless of the caller's partitioning (the property the post-hoc fit
    oracle relies on)."""
    r1 = MopsoEngine(small_cfg).fit(blobs_df.repartition(2))
    r2 = MopsoEngine(small_cfg).fit(blobs_df.repartition(7))
    np.testing.assert_array_equal(r1.archive_fitness, r2.archive_fitness)
    np.testing.assert_array_equal(r1.best_position, r2.best_position)


class TestCheckpointResume:
    @pytest.mark.parametrize(
        "cfg",
        [
            MopsoConfig(iter_max=6, n_particles=6, knn_l=5, seed=42, init_sample_size=300),
            MopsoConfig.variant("avg_label", iter_max=6, n_particles=6, knn_l=5, seed=9, init_sample_size=300),
        ],
        ids=["exact", "avg_label"],
    )
    def test_resume_bit_identical(self, blobs_df, tmp_path, cfg):
        """fit(6 iters) == fit(3 iters, checkpoint) + resume(to 6),
        bit-for-bit: archive positions, fitness, and history — for the
        exact fit and the partition-local (label layout) one."""
        straight = MopsoEngine(cfg).fit(blobs_df)

        cp = str(tmp_path / "cp")
        import os
        os.makedirs(cp, exist_ok=True)
        # interrupt after 3 of the SAME 6-iteration schedule (stop_after,
        # not a smaller iter_max: the w schedule is a function of
        # iter_max, so a 3-budget fit is not a prefix of a 6-budget one)
        partial = MopsoEngine(cfg).fit(blobs_df, checkpoint_dir=cp, stop_after=3)
        assert partial.iterations == 3
        resumed = MopsoEngine(cfg).fit(blobs_df, checkpoint_dir=cp, resume=True)
        np.testing.assert_array_equal(
            np.stack(straight.archive_positions), np.stack(resumed.archive_positions)
        )
        np.testing.assert_array_equal(straight.archive_fitness, resumed.archive_fitness)
        assert straight.history == resumed.history
        assert resumed.best_index == straight.best_index
        # the one-off checkpoint load is reported as its own resume_load
        # phase INSIDE setup, so a resumed fit's sec_per_iter stays a
        # pure kernel number
        assert resumed.phase_sec.get("resume_load") is not None
        assert resumed.phase_sec["resume_load"] <= resumed.phase_sec["setup"] + 1e-9
        assert "resume_load" not in straight.phase_sec

    @pytest.mark.parametrize("field", ["seed", "iter_max", "k", "n", "d"])
    def test_resume_rejects_foreign_checkpoint(self, blobs_df, tmp_path, field):
        """A checkpoint resumes only the fit that wrote it. iter_max is
        part of that identity: w_at is a function of it."""
        from pyspark.sql import functions as F

        cp = str(tmp_path)
        kw = dict(seed=42, iter_max=4, n_particles=6, knn_l=5, init_sample_size=300)
        MopsoEngine(MopsoConfig(**kw)).fit(blobs_df, checkpoint_dir=cp, stop_after=2)
        points = blobs_df
        if field == "n":
            points = blobs_df.where("id < 200")
        elif field == "d":
            points = blobs_df.withColumn("features", F.slice("features", 1, 3))
        else:
            kw[field] = {"seed": 43, "iter_max": 5, "k": 4}[field]
        with pytest.raises(ValueError, match="different fit"):
            MopsoEngine(MopsoConfig(**kw)).fit(points, checkpoint_dir=cp, resume=True)

    @pytest.mark.parametrize("kwargs", [dict(resume=True), dict(stop_after=2)], ids=["resume", "stop_after"])
    def test_checkpoint_args_need_dir_before_any_job(self, spark, blobs_df, kwargs):
        """resume / stop_after without checkpoint_dir raise before the fit
        launches a single Spark job (stats, sample or kNN build)."""
        sc = spark.sparkContext
        group = "ckpt-args-" + "-".join(kwargs)
        sc.setJobGroup(group, "checkpoint argument check")
        try:
            with pytest.raises(ValueError, match="checkpoint_dir"):
                MopsoEngine(MopsoConfig(n_particles=4, iter_max=3, knn_l=5)).fit(blobs_df, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _ingest_fit(spark, rows, monkeypatch, **cfg):
    """Fit ``rows`` with every job after the set-up pass disabled: an
    ingest error must come from ``init.corpus_stats`` or the fit's checks
    of its figures, before the kNN build (the fit's next job)."""
    import mopso_engine.engine as eng_mod

    def later_job(*a, **kw):
        raise AssertionError("a job after corpus_stats ran")

    monkeypatch.setattr(eng_mod, "with_neighbors", later_job)
    df = spark.createDataFrame(rows, "id long, features array<double>, label int")
    MopsoEngine(MopsoConfig(**(dict(n_particles=4, iter_max=2, knn_l=3, k=2) | cfg))).fit(df)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")], ids=["nan", "inf", "-inf"])
def test_fit_rejects_non_finite_feature_at_ingest(spark, monkeypatch, bad):
    rows = [(i, [float(i), float(i % 3), 1.0], 1 + i % 2) for i in range(20)]
    rows[7] = (7, [7.0, bad, 1.0], 2)
    with pytest.raises(ValueError, match="non-finite feature value in dimension 1 "):
        _ingest_fit(spark, rows, monkeypatch)


@pytest.mark.parametrize(
    "extra, msg", [(1, "1 rows reach dimension 3, 20"), (-1, "19 rows reach dimension 2, 20")], ids=["longer", "shorter"]
)
def test_fit_rejects_ragged_features_at_ingest(spark, monkeypatch, extra, msg):
    rows = [(i, [float(i), float(i % 3), 1.0], 1 + i % 2) for i in range(20)]
    rows[5] = (5, [5.0, 2.0, 1.0, 9.0][: 3 + extra], 2)
    with pytest.raises(ValueError, match=f"ragged feature arrays: {msg} reach dimension 0"):
        _ingest_fit(spark, rows, monkeypatch)


@pytest.mark.parametrize("bad", [None, [3.0, None, 1.0]], ids=["null_array", "null_value"])
def test_fit_rejects_null_features_at_ingest(spark, monkeypatch, bad):
    """A null features array (or a null value in one) is rejected, not
    dropped from n and from the bounds."""
    rows = [(i, [float(i), float(i % 3), 1.0], 1 + i % 2) for i in range(20)]
    rows[3], rows[11] = (3, bad, 2), (11, bad, 1)
    with pytest.raises(ValueError, match="null features in 2 rows"):
        _ingest_fit(spark, rows, monkeypatch)


@pytest.mark.parametrize("init", ["maximin", "random", "random_point"])
def test_fit_rejects_k_above_n_at_ingest(spark, monkeypatch, init):
    """k above the row count fails after the set-up pass, before the kNN
    build, for every init: not in random_point's sampler after the kNN
    build, and not as maximin's degenerate front."""
    rows = [(i, [float(i), float(i % 2)], 1 + i % 2) for i in range(5)]
    with pytest.raises(ValueError, match="k=8 clusters but the points table has n=5 rows"):
        _ingest_fit(spark, rows, monkeypatch, k=8, init=init)


@pytest.mark.parametrize("init", ["maximin", "random", "random_point"])
def test_fit_with_k_above_distinct_points(spark, init):
    """k between the number of distinct points and n still fits: 12 rows
    of 2 distinct points, k=4, every init, a finite front."""
    rows = [(i, [float(i % 2), 2.0 * (i % 2)], 1 + i % 2) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label int")
    cfg = MopsoConfig(k=4, n_particles=4, iter_max=2, knn_l=3, seed=3, init=init)
    res = MopsoEngine(cfg).fit(df)
    assert res.k == 4 and len(res.archive_positions) >= 1
    assert np.isfinite(res.archive_fitness).all()
    assert all(np.isfinite(p).all() for p in res.archive_positions)


@pytest.mark.parametrize("mode", ["exact", "partition_local"])
def test_failed_fit_releases_its_caches(spark, blobs_df, monkeypatch, broadcasts, mode):
    """A fit that fails after its kNN build leaves the session's cache
    manager as it found it and destroys the exact-scope kNN broadcast."""
    import os

    import mopso_engine.engine as eng_mod

    def failing(*a, **kw):
        raise RuntimeError("fitness pass failed")

    monkeypatch.setattr(eng_mod, "evaluate_solutions", failing)
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = (cm.isEmpty(), cm.numCachedEntries())
    cfg = MopsoConfig(n_particles=4, iter_max=2, knn_l=5, fitness_mode=mode)
    with pytest.raises(RuntimeError, match="fitness pass failed"):
        MopsoEngine(cfg).fit(blobs_df)
    assert (cm.isEmpty(), cm.numCachedEntries()) == before
    assert len(broadcasts) == (mode == "exact")
    assert [os.path.exists(bc._path) for bc in broadcasts] == [False] * len(broadcasts)


def test_fit_keeps_the_callers_cache(spark, blobs_df, small_cfg):
    """The fit caches nothing of its input, so it cannot release the
    caller's own cache of it."""
    from pyspark import StorageLevel

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    MopsoEngine(small_cfg).fit(blobs_df)
    assert blobs_df.storageLevel != StorageLevel.NONE
    assert cm.numCachedEntries() == before


def test_early_stop_triggers_on_constant_front(blobs_df, monkeypatch):
    """With the fitness forced constant the front still GROWS while the
    archive fills (4 equal-fitness entries join per iteration: 4 pre-loop
    → 8 → 12 → capacity 15 at iter 3), then freezes — so patience=2
    stops the loop at iteration 5 (first two consecutive identical
    fronts: iters 4 and 5). With early stopping OFF the same fit runs
    the full budget."""
    import numpy as np
    import mopso_engine.engine as eng_mod
    from mopso_engine import MopsoConfig, MopsoEngine

    def const_fitness(nbr, positions, **kw):
        return np.tile(np.array([100.0, 50.0]), (len(positions), 1))

    monkeypatch.setattr(eng_mod, "evaluate_solutions", const_fitness)
    cfg = MopsoConfig(iter_max=10, n_particles=4, knn_l=5, seed=7, init_sample_size=300)
    stopped = MopsoEngine(cfg).fit(blobs_df, early_stop_patience=2)
    assert stopped.iterations == 5
    assert all(h["best_dev"] == 100.0 for h in stopped.history)
    full = MopsoEngine(cfg).fit(blobs_df)
    assert full.iterations == 10


def test_early_stop_prefix_exact(blobs_df):
    """When early stop fires on a real fit it must truncate, never
    perturb: the stopped run's history is a prefix of the straight
    run's. (If the fixture never converges inside the budget, the two
    runs are identical end-to-end — the assertion still holds.)"""
    from mopso_engine import MopsoConfig, MopsoEngine

    cfg = MopsoConfig(iter_max=12, n_particles=6, knn_l=5, seed=7, init_sample_size=300)
    stopped = MopsoEngine(cfg).fit(blobs_df, early_stop_patience=2)
    straight = MopsoEngine(cfg).fit(blobs_df)
    k = stopped.iterations
    assert [h["best_dev"] for h in straight.history[:k]] == [
        h["best_dev"] for h in stopped.history
    ]


def test_early_stop_streak_survives_resume(blobs_df, tmp_path, monkeypatch):
    """The early-stop streak is checkpointed: interrupting mid-streak and
    resuming must stop at the SAME iteration as the uninterrupted run
    (with constant fitness: stop at iteration 5, see above)."""
    import os
    import numpy as np
    import mopso_engine.engine as eng_mod
    from mopso_engine import MopsoConfig, MopsoEngine

    def const_fitness(nbr, positions, **kw):
        return np.tile(np.array([100.0, 50.0]), (len(positions), 1))

    monkeypatch.setattr(eng_mod, "evaluate_solutions", const_fitness)
    cfg = MopsoConfig(iter_max=10, n_particles=4, knn_l=5, seed=7, init_sample_size=300)
    cp = str(tmp_path / "cp_es")
    os.makedirs(cp, exist_ok=True)
    # interrupt at iteration 4: streak is 1 (fronts identical at 3→4)
    MopsoEngine(cfg).fit(blobs_df, checkpoint_dir=cp, stop_after=4, early_stop_patience=2)
    resumed = MopsoEngine(cfg).fit(
        blobs_df, checkpoint_dir=cp, resume=True, early_stop_patience=2
    )
    assert resumed.iterations == 5  # not 6: the pre-interrupt streak counted
