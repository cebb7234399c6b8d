"""Archive/dominance/crowding micro-fixtures (FIXTURES.md F4)."""

import numpy as np
import pytest

from mopso_engine.pareto import (
    Archive,
    ArchiveEntry,
    crowding_distance,
    dominates,
    non_dominated_mask,
    normalize_fitness,
    pbest_update,
)


def e(f1, f2):
    return ArchiveEntry(position=np.zeros((1, 1)), fitness=np.array([f1, f2]))


class TestDominance:
    def test_strict_domination(self):
        assert dominates(np.array([1.0, 1.0]), np.array([2.0, 2.0]))

    def test_f1_tie_dominates(self):
        # reference rule: equal f1 with smaller f2 dominates (Spark_MOPSO_Avg.scala:1020-1026)
        assert dominates(np.array([1.0, 1.0]), np.array([1.0, 2.0]))

    def test_f2_tie_never_dominates(self):
        assert not dominates(np.array([1.0, 2.0]), np.array([2.0, 2.0]))

    def test_self_not_dominated(self):
        f = np.array([[1.0, 1.0], [1.0, 1.0]])
        assert non_dominated_mask(f).all()  # equal rows: f2 not strict

    def test_mask_chain(self):
        f = np.array([[1, 5], [2, 4], [3, 3], [2, 6], [4, 4]], dtype=float)
        # (2,6) dominated by (1,5)&(2,4); (4,4) dominated by (3,3)&(2,4)-tie? f2 4<4 no → by (3,3): 3<=4 & 3<4 yes
        assert non_dominated_mask(f).tolist() == [True, True, True, False, False]


class TestCrowding:
    def test_singleton_inf(self):
        _, c = crowding_distance(np.array([[1.0, 2.0]]))
        assert np.isinf(c[0])

    def test_pair_fixed_both_inf(self):
        _, c = crowding_distance(np.array([[1.0, 2.0], [0.0, 3.0]]))
        assert np.isinf(c).all()

    def test_pair_bug_second_keeps_stale(self):
        # n==2 path assigns index 0 twice (Spark_MOPSO_Avg.scala:975-976)
        prev = np.array([7.0, 7.0])
        _, c = crowding_distance(np.array([[1.0, 2.0], [0.0, 3.0]]), prev, endpoint_bug=True)
        assert np.isinf(c[0])  # sorted-first by f2 = row 0 (f2=2)
        assert c[1] == 7.0

    def test_avg_formula(self):
        f = np.array([[3.0, 1.0], [2.0, 2.0], [1.0, 3.0]])
        _, c = crowding_distance(f, formula="avg")
        d = np.sqrt(np.sqrt(2.0))  # dist between consecutive = sqrt(2); formula takes sqrt(dist)
        assert c[1] == pytest.approx((d + d) / 2)
        assert np.isinf(c[0]) and np.isinf(c[2])

    def test_product_formula(self):
        f = np.array([[3.0, 1.0], [2.0, 2.0], [1.0, 3.0]])
        _, c = crowding_distance(f, formula="product")
        assert c[1] == pytest.approx(abs(3.0 - 1.0) * abs(1.0 - 3.0))

    def test_endpoint_bug_first_keeps_stale(self):
        # n>2: `==` instead of `=` (Spark_MOPSO_Avg.scala:980)
        f = np.array([[3.0, 1.0], [2.0, 2.0], [1.0, 3.0]])
        prev = np.array([9.0, 0.0, 0.0])
        _, c = crowding_distance(f, prev, endpoint_bug=True)
        assert c[0] == 9.0  # f2-min endpoint keeps stale value
        assert np.isinf(c[2])


class TestArchive:
    def test_keeps_non_dominated_only(self):
        a = Archive(capacity=15)
        a.update([e(1, 5), e(2, 4), e(3, 3), e(2, 6), e(4, 4)])
        fits = sorted((x.fitness[0], x.fitness[1]) for x in a.entries)
        assert fits == [(1, 5), (2, 4), (3, 3)]

    def test_mutual_nondominance_invariant(self):
        rng = np.random.default_rng(3)
        a = Archive(capacity=15)
        for _ in range(20):
            a.update([e(*rng.uniform(0, 10, size=2)) for _ in range(10)])
            f = a.fitness_matrix()
            assert non_dominated_mask(f).all()
            assert len(a.entries) <= 15

    def test_overflow_drops_most_crowded(self):
        a = Archive(capacity=3)
        # anti-chain: f1 asc, f2 desc; crowd the middle
        pts = [(1.0, 10.0), (1.1, 9.99), (1.2, 9.98), (5.0, 5.0), (10.0, 1.0)]
        a.update([e(f1, f2) for f1, f2 in pts])
        assert len(a.entries) == 3
        kept = {(x.fitness[0], x.fitness[1]) for x in a.entries}
        # endpoints (f2 extremes → inf crowding) always survive
        assert (1.0, 10.0) in kept or (1.1, 9.99) in kept  # low-f1 side survives
        assert (10.0, 1.0) in kept

    def test_global_best_sizes(self):
        rng = np.random.default_rng(0)
        a = Archive(capacity=15)
        a.update([e(1, 1)])
        assert a.global_best(rng).fitness.tolist() == [1, 1]
        a = Archive(capacity=15)
        a.update([e(1, 2), e(2, 1)])
        assert a.global_best(rng).fitness.tolist() in ([1, 2], [2, 1])
        a = Archive(capacity=15)
        a.update([e(1, 10), e(2, 8), e(3, 7), e(9, 1)])
        g = a.global_best(rng)
        assert g.fitness.tolist() in ([2, 8], [3, 7])  # interior max crowding


class TestPbest:
    def test_new_dominates_replaces(self):
        rng = np.random.default_rng(0)
        p, f = pbest_update(np.ones((1, 1)), np.array([1.0, 1.0]), np.zeros((1, 1)), np.array([2.0, 2.0]), rng)
        assert f.tolist() == [1.0, 1.0]

    def test_frozen_never_changes(self):
        rng = np.random.default_rng(0)
        p, f = pbest_update(
            np.ones((1, 1)), np.array([1.0, 1.0]), np.zeros((1, 1)), np.array([2.0, 2.0]), rng, frozen=True
        )
        assert f.tolist() == [2.0, 2.0]

    def test_inverted_replaces_when_old_dominates(self):
        rng = np.random.default_rng(0)
        # old [1,1] dominates new [2,2] → inverted rule replaces with new
        p, f = pbest_update(
            np.ones((1, 1)), np.array([2.0, 2.0]), np.zeros((1, 1)), np.array([1.0, 1.0]), rng, inverted=True
        )
        assert f.tolist() == [2.0, 2.0]


def test_normalize_extremes_map_to_unit():
    f = np.array([[1.0, 10.0], [3.0, 30.0], [2.0, 20.0]])
    n = normalize_fitness(f)
    assert n.min(axis=0).tolist() == [0.0, 0.0]
    assert n.max(axis=0).tolist() == [1.0, 1.0]
    assert n[2].tolist() == [0.5, 0.5]


def test_normalize_constant_column_is_zero():
    f = np.array([[1.0, 5.0], [2.0, 5.0]])
    n = normalize_fitness(f)
    assert n[:, 1].tolist() == [0.0, 0.0]
