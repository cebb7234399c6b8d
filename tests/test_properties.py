"""Property-based tests (SURVEY §5.2) — hypothesis over the driver-side
control plane (no Spark needed: fast, wide input coverage)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mopso_engine.pareto import (
    Archive,
    ArchiveEntry,
    crowding_distance,
    non_dominated_mask,
    normalize_fitness,
)
from mopso_engine.pso import canonicalize_centers, update_swarm
from mopso_engine.schema import MopsoConfig

fit_sets = st.lists(
    st.tuples(
        st.floats(0, 1000, allow_nan=False, width=32),
        st.floats(0, 1000, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


def entries(fits):
    return [ArchiveEntry(np.zeros((1, 1)), np.array(f, dtype=float)) for f in fits]


@given(fit_sets)
@settings(max_examples=200, deadline=None)
def test_archive_invariants(fits):
    a = Archive(capacity=15)
    a.update(entries(fits))
    m = a.fitness_matrix()
    assert 1 <= len(m) <= 15
    assert non_dominated_mask(m).all()  # mutually non-dominated
    # every original non-dominated point survives unless truncated
    keep = non_dominated_mask(np.array(fits, dtype=float))
    if keep.sum() <= 15:
        surv = {tuple(f) for f in m}
        for f, k in zip(fits, keep):
            assert (tuple(map(float, f)) in surv) == bool(k) or not k


@given(fit_sets)
@settings(max_examples=100, deadline=None)
def test_incremental_equals_batch_update(fits):
    """Feeding candidates in two chunks reaches the same front as one
    batch (archive update is monotone in the dominance order)."""
    half = len(fits) // 2
    a, b = Archive(capacity=1000), Archive(capacity=1000)
    a.update(entries(fits))
    b.update(entries(fits[:half]))
    b.update(entries(fits[half:]))
    fa = sorted(map(tuple, a.fitness_matrix()))
    fb = sorted(map(tuple, b.fitness_matrix()))
    assert fa == fb


@given(fit_sets)
@settings(max_examples=100, deadline=None)
def test_crowding_endpoints_and_nonnegativity(fits):
    f = np.array(fits, dtype=float)
    order, c = crowding_distance(f)
    assert (c >= 0).all()
    assert np.isinf(c[order[0]]) and np.isinf(c[order[-1]])


@given(fit_sets)
@settings(max_examples=100, deadline=None)
def test_normalize_bounds(fits):
    n = normalize_fitness(np.array(fits, dtype=float))
    assert (n >= 0).all() and (n <= 1.0 + 1e-12).all()


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=50, deadline=None)
def test_velocity_resample_respects_bounds(seed):
    rng = np.random.default_rng(seed)
    cfg = MopsoConfig()
    s, k, d = 5, 3, 4
    pos = rng.normal(size=(s, k, d)) * 10
    vel = rng.uniform(-1, 1, size=(s, k, d))
    pb = pos + rng.normal(size=pos.shape)
    gb = rng.normal(size=(k, d))
    new_pos, new_vel = update_swarm(pos, vel, pb, gb, 0.7, cfg, rng)
    assert (new_vel >= cfg.v_min).all() and (new_vel <= cfg.v_max).all()
    np.testing.assert_allclose(new_pos, pos + new_vel)


@given(st.integers(0, 1000))
@settings(max_examples=50, deadline=None)
def test_canonicalize_sorts_by_first_coord(seed):
    rng = np.random.default_rng(seed)
    c = rng.normal(size=(6, 3))
    cc = canonicalize_centers(c)
    assert (np.diff(cc[:, 0]) >= 0).all()
    assert sorted(map(tuple, c.tolist())) == sorted(map(tuple, cc.tolist()))


@given(st.integers(0, 10_000), st.integers(3, 8), st.integers(1, 3))
@settings(max_examples=60, deadline=None)
def test_pca_fit_invariants(seed, d, m):
    """_pca_fit_exact (the shared Spark/oracle PCA fit): orthonormal
    components, descending projected variance, deterministic sign rule,
    exact mean — over random corpora of any conditioning."""
    from mopso_engine.ext.linalg import _pca_fit_exact

    rng = np.random.default_rng(seed)
    n = d + 5 + int(rng.integers(0, 20))
    x = rng.normal(size=(n, d)) * rng.uniform(0.1, 10, size=d)
    mean, comps = _pca_fit_exact(x, m)
    assert np.allclose(mean, x.mean(axis=0))
    assert np.allclose(comps @ comps.T, np.eye(m), atol=1e-8)
    for c in comps:
        assert c[int(np.argmax(np.abs(c)))] > 0
    var = ((x - mean) @ comps.T).var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(m - 1))


@given(st.integers(0, 10_000), st.integers(1, 3))
@settings(max_examples=60, deadline=None)
def test_pca_fit_is_input_order_invariant_after_sort(seed, m):
    """The trainer twins sort rows by id before fitting; fitting any
    permutation of the SORTED matrix must change the model (numpy sum
    order differs) — fitting the same sorted matrix twice must not."""
    from mopso_engine.ext.linalg import _pca_fit_exact

    rng = np.random.default_rng(seed)
    x = rng.normal(size=(12, 5))
    m1 = _pca_fit_exact(x, m)
    m2 = _pca_fit_exact(x.copy(), m)
    assert (m1[0] == m2[0]).all() and (m1[1] == m2[1]).all()


# --- r14: the attribution ladder's integer credit rules -----------------
# Pure-python mirrors of the EXACT SQL credit expressions (the Spark
# plans and DuckDB oracles both evaluate these formulas verbatim; the
# unit replays in test_pipeline pin engine == formula, these pin the
# formulas' invariants over the whole input space).


def _linear_credits(v, k):
    return [v // k + (1 if r <= v % k else 0) for r in range(1, k + 1)]


def _position_credits(v, k):
    if k == 1:
        return [v]
    if k == 2:
        return [v // 2 + v % 2, v // 2]
    f = (v * 2) // 5
    m = v - 2 * f
    mids = [
        m // (k - 2) + (1 if i <= m % (k - 2) else 0)
        for i in range(1, k - 1)
    ]
    return [f] + mids + [f]


def _decay_credits(v, weights):
    """weights in MOST-RECENT-FIRST order (the remainder rank order)."""
    w_sum = sum(weights)
    base = [v * w // w_sum for w in weights]
    rem = v - sum(base)
    return [b + (1 if i < rem else 0) for i, b in enumerate(base)]


@given(st.integers(0, 10**13), st.integers(1, 200))
@settings(max_examples=300, deadline=None)
def test_linear_credit_rule_invariants(v, k):
    c = _linear_credits(v, k)
    assert sum(c) == v and len(c) == k
    assert all(x >= 0 for x in c)
    assert max(c) - min(c) <= 1  # equal split, remainder micros only
    assert sorted(c, reverse=True) == c  # extras go to the EARLIEST


@given(st.integers(0, 10**13), st.integers(1, 200))
@settings(max_examples=300, deadline=None)
def test_position_credit_rule_invariants(v, k):
    c = _position_credits(v, k)
    assert sum(c) == v and len(c) == k
    assert all(x >= 0 for x in c)
    if k >= 3:
        assert c[0] == c[-1]  # first and last take the same 40% share
        # the middle pool absorbs the 40%-rounding remainder: middles
        # are an equal split of exactly v - 2*((v*2) div 5)
        m = v - 2 * ((v * 2) // 5)
        assert sum(c[1:-1]) == m
        assert max(c[1:-1]) - min(c[1:-1]) <= 1
    if k == 2:
        assert abs(c[0] - c[1]) <= 1 and c[0] >= c[1]


@given(
    st.integers(0, 10**13),
    st.lists(st.integers(0, 19), min_size=1, max_size=200),
)
@settings(max_examples=300, deadline=None)
def test_decay_credit_rule_invariants(v, shifts):
    # weights from the actual bit-shift set, most-recent-first means
    # non-increasing shift is NOT guaranteed per conversion ordering by
    # tid — sort shifts ascending = weights non-increasing (recency)
    weights = [1_000_000 >> s for s in sorted(shifts)]
    c = _decay_credits(v, weights)
    assert sum(c) == v and len(c) == len(weights)
    assert all(x >= 0 for x in c)
    # proportionality: a strictly larger weight never earns LESS than
    # a smaller one by more than the single remainder micro
    for i in range(len(c) - 1):
        assert c[i] >= c[i + 1] - 1


# --- r15: the Markov removal-effect solve's invariants -------------------

@given(
    st.integers(0, 10**13),
    st.lists(
        st.tuples(
            st.lists(st.integers(1, 3), min_size=0, max_size=8),
            st.booleans(),  # converts?
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(max_examples=200, deadline=None)
def test_markov_removal_fit_invariants(v, journeys):
    """For any OPERATOR-SHAPED input — transition counts derived from
    terminating journeys (every path ends in CONV or NULL, exactly what
    removal_effect_attribution emits) — the exact-Fraction solve keeps
    three invariants: every removal effect lies in [0, 1] (redirection
    only LOSES conversion mass), credits are non-negative and sum
    EXACTLY to V whenever any effect is positive, and a channel with a
    larger effect never earns less credit (monotone, up to the
    remainder micro). Journeys with no touches (START→CONV/NULL
    directly) are legal and contribute no channel."""
    from mopso_engine.ext.pipeline import markov_removal_fit

    names = {1: "A", 2: "B", 3: "C"}
    counts: dict[tuple[str, str], int] = {}

    def bump(s, d):
        counts[(s, d)] = counts.get((s, d), 0) + 1

    for chans, converts in journeys:
        prev = "START"
        for c in chans:
            bump(prev, names[c])
            prev = names[c]
        bump(prev, "CONV" if converts else "NULL")
    trans = [(s, d, n) for (s, d), n in counts.items()]
    fit = markov_removal_fit(trans, v)
    channels = sorted(
        {s for s, _, _ in trans if s != "START"}
        | {d for _, d, _ in trans if d not in ("CONV", "NULL")}
    )
    assert sorted(fit) == channels
    effects = {c: ppm for c, (ppm, _) in fit.items()}
    credits = {c: cr for c, (_, cr) in fit.items()}
    assert all(0 <= e <= 1_000_000 for e in effects.values())
    assert all(cr >= 0 for cr in credits.values())
    if any(effects.values()):
        assert sum(credits.values()) == v
    else:
        assert all(cr == 0 for cr in credits.values())
    ranked = sorted(channels, key=lambda c: (-effects[c], c))
    for a, b in zip(ranked, ranked[1:]):
        if effects[a] > effects[b]:
            assert credits[a] >= credits[b] - 1
