"""Pareto archive, dominance, crowding distance, gbest/pbest selection.

Pure driver-side numpy (SURVEY §7.3): the archive holds ≤ capacity(15) +
n_particles(50) rows of 2-d fitness — control state, never big data. The
reference keeps exactly this on the driver too
(Spark_MOPSO_Avg.scala:178-189, 870-901).

Semantics are copied EXACTLY, including tie rules and documented bugs
behind flags (SURVEY §4.2):

* dominance (minimize both): ``b dominates a`` iff
  ``(b1<=a1 && b2<a2) || (b1<a1 && b2<a2)`` — which reduces to
  ``b1<=a1 && b2<a2``: an f1-tie can dominate, an f2-tie never does
  (isDominatedBy, Spark_MOPSO_Avg.scala:1020-1026).
* archive update: union swarm + archive, drop every row dominated by any
  row of the union, then if > capacity drop the ``overflow`` rows with the
  SMALLEST crowding distance (most crowded) (Spark_MOPSO_Avg.scala:870-901).
* crowding: sort by f2 asc; two formulas — 'avg'
  ``(sqrt(d(prev,cur)) + sqrt(d(next,cur)))/2`` with d = euclidean over
  fitness (Spark_MOPSO_Avg.scala:966-995) and 'product'
  ``|f1(prev)-f1(next)| * |f2(prev)-f2(next)|`` (MOPSO_Single.scala:994-1020).
  Endpoint bugs behind ``crowding_endpoint_bug`` (:975-980).
* gbest: among interior rows take max crowding, then a uniformly random
  row among ALL rows attaining it; sizes 1 and 2 are special-cased
  (getGlobalBest, Spark_MOPSO_Avg.scala:905-938).
* pbest: intended rule = replace when the new fitness dominates pbest,
  else replace with prob 0.5 when mutually non-dominated; the reference's
  inverted/frozen variants behind flags (F9, Spark_MOPSO_Avg.scala:248-273).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


def dominates(b: np.ndarray, a: np.ndarray) -> bool:
    """True iff fitness b dominates fitness a under the reference rule."""
    return bool(b[0] <= a[0] and b[1] < a[1])


def non_dominated_mask(fitnesses: np.ndarray) -> np.ndarray:
    """Vectorized dominance filter over an (n,2) fitness matrix.

    Row i is kept iff no row j has (f1_j <= f1_i) & (f2_j < f2_i).
    A row never dominates itself under this rule (f2 is strict).
    """
    f = np.asarray(fitnesses, dtype=np.float64)
    le1 = f[:, 0][:, None] <= f[:, 0][None, :]  # j dominates-candidate i on f1
    lt2 = f[:, 1][:, None] < f[:, 1][None, :]
    dominated = np.any(le1.T & lt2.T, axis=1)
    return ~dominated


def crowding_distance(
    fitnesses: np.ndarray,
    prev_crowding: np.ndarray | None = None,
    *,
    formula: str = "avg",
    endpoint_bug: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Crowding distances for an (n,2) fitness set.

    Returns (order, crowding) where `order` indexes the input sorted by f2
    ascending (sortFronts, Spark_MOPSO_Avg.scala:1000-1003) and `crowding`
    is aligned to the INPUT rows.

    With ``endpoint_bug=True`` the reference's literal behavior is kept:
    n==2 assigns index 0 twice (index 1 keeps its stale value) and n>2
    *compares* index 0 to +inf instead of assigning (stale value kept).
    `prev_crowding` supplies those stale values (default 0).
    """
    f = np.asarray(fitnesses, dtype=np.float64)
    n = len(f)
    crowd = np.zeros(n) if prev_crowding is None else np.asarray(prev_crowding, dtype=np.float64).copy()
    order = np.lexsort((f[:, 0], f[:, 1]))  # by f2 asc (f1 tiebreak for determinism)
    if n == 1:
        crowd[order[0]] = np.inf
        return order, crowd
    if n == 2:
        crowd[order[0]] = np.inf
        if not endpoint_bug:
            crowd[order[1]] = np.inf
        return order, crowd
    if not endpoint_bug:
        crowd[order[0]] = np.inf
    crowd[order[-1]] = np.inf
    fs = f[order]
    if formula == "avg":
        d_prev = np.sqrt(np.sqrt(((fs[1:-1] - fs[:-2]) ** 2).sum(axis=1)))
        d_next = np.sqrt(np.sqrt(((fs[1:-1] - fs[2:]) ** 2).sum(axis=1)))
        mid = (d_prev + d_next) / 2.0
    elif formula == "product":
        mid = np.abs(fs[:-2, 0] - fs[2:, 0]) * np.abs(fs[:-2, 1] - fs[2:, 1])
    else:
        raise ValueError(f"unknown crowding formula: {formula}")
    crowd[order[1:-1]] = mid
    return order, crowd


@dataclass
class ArchiveEntry:
    position: np.ndarray  # (k, d) cluster centers
    fitness: np.ndarray  # (2,) [dev, conn]
    crowding: float = 0.0


@dataclass
class Archive:
    """The Pareto archive with reference-exact update semantics."""

    capacity: int = 15
    crowding_formula: str = "avg"
    endpoint_bug: bool = False
    entries: list[ArchiveEntry] = field(default_factory=list)

    def fitness_matrix(self) -> np.ndarray:
        if not self.entries:
            return np.zeros((0, 2))
        return np.stack([e.fitness for e in self.entries])

    def update(self, candidates: list[ArchiveEntry]) -> None:
        """union → dominance filter → crowding truncation (updateArchive)."""
        pool = self.entries + list(candidates)
        if not pool:
            return
        fits = np.stack([e.fitness for e in pool])
        keep = non_dominated_mask(fits)
        pool = [e for e, m in zip(pool, keep) if m]
        overflow = len(pool) - self.capacity
        if overflow > 0:
            fits = np.stack([e.fitness for e in pool])
            prev = np.array([e.crowding for e in pool])
            _, crowd = crowding_distance(
                fits, prev, formula=self.crowding_formula, endpoint_bug=self.endpoint_bug
            )
            for e, c in zip(pool, crowd):
                e.crowding = float(c)
            # sort crowding ASC, drop the first `overflow` (most crowded);
            # stable sort keeps the reference's drop order deterministic
            idx = np.argsort(crowd, kind="stable")
            pool = [pool[i] for i in sorted(idx[overflow:])]
        self.entries = pool

    def global_best(self, rng: np.random.Generator) -> ArchiveEntry:
        """getGlobalBest (Spark_MOPSO_Avg.scala:905-938)."""
        n = len(self.entries)
        if n == 0:
            raise ValueError("empty archive")
        fits = self.fitness_matrix()
        prev = np.array([e.crowding for e in self.entries])
        order, crowd = crowding_distance(
            fits, prev, formula=self.crowding_formula, endpoint_bug=self.endpoint_bug
        )
        for e, c in zip(self.entries, crowd):
            e.crowding = float(c)
        if n == 1:
            return self.entries[0]
        if n == 2:
            return self.entries[order[int(rng.integers(0, 2))]]
        interior = order[1:-1]
        max_c = crowd[interior].max()
        # the reference scans the FULL sorted array for crowding == max
        pool = [i for i in order if crowd[i] == max_c]
        return self.entries[pool[int(rng.integers(0, len(pool)))]]


def pbest_update(
    new_position: np.ndarray,
    new_fitness: np.ndarray,
    best_position: np.ndarray,
    best_fitness: np.ndarray,
    rng: np.random.Generator,
    *,
    frozen: bool = False,
    inverted: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Personal-best update (F9). Returns (best_position, best_fitness).

    Intended rule (default): new replaces pbest if it dominates pbest;
    otherwise (mutually non-dominated or dominated) replace with prob 0.5
    — a coin is always drawn in the else-branch, matching the reference's
    RNG stream shape (Spark_MOPSO_Avg.scala:260-271).

    ``inverted=True`` reproduces the reference's literal branch (replace
    when pbest dominates new); ``frozen=True`` reproduces Avg's discard of
    the result (Spark_MOPSO_Avg.scala:272).
    """
    if frozen:
        # a coin may still be drawn in the reference; keep stream parity simple: no draw
        return best_position, best_fitness
    wins = dominates(best_fitness, new_fitness) if inverted else dominates(new_fitness, best_fitness)
    if wins:
        return new_position.copy(), new_fitness.copy()
    if rng.random() < 0.5:
        return new_position.copy(), new_fitness.copy()
    return best_position, best_fitness


def normalize_fitness(fitnesses: np.ndarray) -> np.ndarray:
    """Per-objective min-max normalization of the archive front (A15,
    dataNormalization Spark_MOPSO_Avg.scala:407-427). Constant objectives
    map to 0 (the reference would divide by zero → NaN; we document the
    fix)."""
    f = np.asarray(fitnesses, dtype=np.float64)
    lo, hi = f.min(axis=0), f.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    return (f - lo) / span
