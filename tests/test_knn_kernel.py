"""The exact kNN kernel (``objectives._topl_blocked``) against a brute-force
oracle, byte for byte — no Spark needed, so this is the quick kernel check.

The oracle is the full ``_distances_exact`` matrix over all rows at once
plus a full (dist, id) sort: the kernel's exact-math ranks follow no row
block, so any block rule must give the oracle's bytes. The kernel takes
each row's projection window or, where that window would cover over half
of ref, the gemm filter and exact refine; the cases below reach both.
The generated tables hold what breaks a pruned build: duplicates and
exact distance ties, constant columns (a constant projection column
among them), values near 1e5 where ‖x‖² − 2x·y + ‖y‖² cancels, values
of very different magnitudes whose differences round, differences whose
squares are subnormal, tables of at most L+1 rows, query rows foreign to the reference set, and 1-row blocks.
"""

import os
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mopso_engine import objectives
from mopso_engine.assign import _distances_exact


def brute_topl(x, ref, ref_ids, x_ids, l_nbrs):
    """Every row's full ``_distances_exact`` row, self excluded, sorted by
    (dist, id); 256 rows at a time, to bound the (rows, |ref|, d) tensor."""
    l_eff = min(l_nbrs, ref.shape[0] - 1)
    pos, dist = [], []
    for s in range(0, max(1, len(x)), 256):
        d = _distances_exact(x[s : s + 256], ref)
        d[ref_ids[None, :] == x_ids[s : s + 256, None]] = np.inf
        order = np.lexsort((np.broadcast_to(ref_ids, d.shape), d), axis=1)[:, :l_eff]
        pos.append(order)
        dist.append(np.take_along_axis(d, order, axis=1))
    return np.concatenate(pos), np.concatenate(dist)


@st.composite
def knn_inputs(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    dim = draw(st.sampled_from([1, 2, 4, 8, 64]))
    l_nbrs = draw(st.integers(1, 8))
    n_ref = draw(st.one_of(st.integers(1, l_nbrs + 1), st.integers(1, 300)))
    kind = draw(st.sampled_from(["grid", "normal", "near_1e5", "magnitudes_apart", "subnormal_squares"]))
    if kind == "grid":  # duplicate points and exact distance ties
        ref = rng.integers(0, draw(st.integers(2, 12)), size=(n_ref, dim)).astype(np.float64)
    elif kind == "normal":  # anisotropic, as real tables often are, so windows prune
        scale = 10.0 ** (draw(st.integers(-3, 3)) - 2.0 * rng.random(dim))
        ref = rng.normal(size=(n_ref, dim)) * scale
    elif kind == "near_1e5":  # ‖x‖² ~ 1e10 against squared gaps of 1e-4..1
        ref = 1e5 + rng.integers(0, 5, size=(n_ref, dim)) * draw(st.sampled_from([1e-2, 0.5]))
    elif kind == "magnitudes_apart":  # rows near 0 and near ±1e5: their differences round
        ref = _magnitudes_apart(rng, n_ref, dim)
    else:  # squared differences below the normal range lose their precision
        ref = rng.integers(0, 50, size=(n_ref, dim)) * 1e-160
    ref[:, 0] *= draw(st.sampled_from([1.0, 100.0, 1e4]))  # a dominant column prunes best
    const = draw(st.sampled_from(["none", "none", "some", "all"]))
    if const == "all":  # the projection column is constant too
        ref[:] = ref[0]
    elif const == "some":
        ref[:, rng.random(dim) < 0.5] = 7.0
    if draw(st.booleans()):  # resample rows: more duplicates
        ref = ref[rng.integers(0, n_ref, n_ref)]
    ref_ids = np.sort(rng.choice(10**6, size=n_ref, replace=False)).astype(np.int64)
    block_rows = draw(st.integers(1, 5))
    n_x = block_rows * draw(st.integers(0, 4)) + draw(st.sampled_from([1, 1, 2, block_rows]))
    take = rng.integers(0, n_ref, n_x)
    x, x_ids = ref[take].copy(), ref_ids[take].copy()
    foreign = rng.random(n_x) < draw(st.sampled_from([0.0, 0.3]))
    x_ids[foreign] = -1 - np.arange(foreign.sum())  # not in ref; same point or a jittered one
    x[foreign] += rng.integers(0, 2, size=(foreign.sum(), dim))
    cells = draw(st.sampled_from([1, block_rows * n_ref]))  # 1: one row per block on every path
    return x, ref, ref_ids, x_ids, l_nbrs, cells


def _magnitudes_apart(rng, n, dim):
    """Rows far apart on column 0: three at −1e5, two at +1e5, ~10% within
    3e-12 of 0 and the rest at 1..999; the other columns are within
    3e-12 of 0. From −1e5 the near-0 rows are at distances that round to
    1e5 (its ulp is ~1.5e-11) and tie, so a window must reach past the
    rounding of those differences to hold the tied rows of lower id."""
    ref = rng.integers(0, 4, size=(n, dim)) * 1e-12
    ref[:, 0] += rng.integers(1, 1000, n) * (rng.random(n) < 0.9)
    ref[:3, 0] = -1e5
    ref[3:5, 0] = 1e5
    return ref


@given(knn_inputs())
@settings(max_examples=400, deadline=None)
def test_topl_blocked_equals_brute_force_bytes(case):
    x, ref, ref_ids, x_ids, l_nbrs, cells = case
    with mock.patch.object(objectives, "_BLOCK_CELLS", cells):
        got_pos, got_d = objectives._topl_blocked(x, ref, ref_ids, x_ids, l_nbrs)
    want_pos, want_d = brute_topl(x, ref, ref_ids, x_ids, l_nbrs)
    assert np.array_equal(got_pos, want_pos)
    assert got_d.tobytes() == want_d.tobytes()


def _exact_case(kind: str, dim: int):
    """(x, ref, ref_ids, x_ids, L) of one hostile exact-math input: every
    query row is a ref row, plus three rows foreign to ref (a duplicate
    of a ref point and two jittered ones)."""
    rng = np.random.default_rng(dim)
    l_nbrs = 6
    if kind == "grid_ties":  # integer grid: exact distance ties at rank L
        ref = rng.integers(0, 4, size=(150, dim)).astype(np.float64)
    elif kind == "duplicates":
        ref = rng.normal(size=(40, dim))[rng.integers(0, 40, 150)]
    elif kind == "constant_columns":
        ref = rng.normal(size=(150, dim)) * 10.0 ** rng.integers(-2, 3, dim)
        ref[:, rng.random(dim) < 0.5] = 7.0
        ref[:, 0] = 7.0
    elif kind == "near_1e5":  # gemm error ~1e-3 against gaps of 1e-2: the filter's margin decides
        ref = 1e5 + rng.integers(0, 5, size=(150, dim)) * 1e-2
    elif kind == "magnitudes_apart":
        ref = _magnitudes_apart(rng, 150, dim)
    elif kind == "subnormal_squares":  # (1e-160)² is subnormal: ~4 significant digits
        ref = rng.integers(0, 50, size=(150, dim)) * 1e-160
    elif kind == "l_at_least_n_minus_1":
        ref, l_nbrs = rng.integers(0, 3, size=(6, dim)).astype(np.float64), 9
    else:
        raise ValueError(kind)
    ref_ids = np.sort(rng.choice(10**6, size=len(ref), replace=False)).astype(np.int64)
    foreign = np.stack([ref[0], ref[1] + 0.5, ref[2] - 1e-3])
    x = np.concatenate([ref, foreign])
    x_ids = np.concatenate([ref_ids, [-1, -2, -3]])
    return x, ref, ref_ids, x_ids, l_nbrs


@pytest.mark.parametrize("block_rows", [1, 37, None])
@pytest.mark.parametrize("dim", [1, 4, 64])
@pytest.mark.parametrize(
    "kind",
    ["grid_ties", "duplicates", "constant_columns", "near_1e5", "magnitudes_apart", "subnormal_squares", "l_at_least_n_minus_1"],
)
def test_exact_math_ranks_equal_brute_force(kind, dim, block_rows):
    """The kernel returns the brute-force ``_distances_exact`` ranks and
    distances byte for byte at any row block: 1 (one row per block on
    every path), 37 (37-row gemm filter blocks) or None (the default
    ``_BLOCK_CELLS``)."""
    x, ref, ref_ids, x_ids, l_nbrs = _exact_case(kind, dim)
    cells = {1: 1, 37: 37 * len(ref), None: objectives._BLOCK_CELLS}[block_rows]
    with mock.patch.object(objectives, "_BLOCK_CELLS", cells):
        got_pos, got_d = objectives._topl_blocked(x, ref, ref_ids, x_ids, l_nbrs)
    want_pos, want_d = brute_topl(x, ref, ref_ids, x_ids, l_nbrs)
    assert got_pos.shape == (len(x), min(l_nbrs, len(ref) - 1))
    assert np.array_equal(got_pos, want_pos)
    assert got_d.tobytes() == want_d.tobytes()


LINEITEM = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.1", "lineitem_slice.parquet")


def _slice(path, cols, n):
    """The first n rows of ``cols`` of a parquet file as an (n, d) float64
    array (a list column is one column of d values)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols).slice(0, n)
    if len(cols) == 1:
        return np.stack(t.column(0).to_numpy(zero_copy_only=False)).astype(np.float64)
    return np.stack([t.column(c).to_numpy() for c in cols], axis=1).astype(np.float64)


@pytest.mark.parametrize("block_rows", [37, None])
def test_exact_math_ranks_on_the_lineitem_slice(block_rows):
    """The first 3000 rows of the lineitem slice (quantity, extended
    price, discount, tax; d=4, columns 5 orders of magnitude apart):
    byte-identical to brute force, and every row takes its projection
    window, not the gemm filter (a fall to the slow path fails here). The
    refine must reduce the same (rows, width, d) shape as
    ``_distances_exact``; a reduction of another shape (e.g.
    ``(diff * diff).sum(-1)``) moves the last ulp of thousands of these
    distances."""
    ref = _slice(LINEITEM, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], 3000)
    ids = np.arange(len(ref), dtype=np.int64)
    cells = objectives._BLOCK_CELLS if block_rows is None else block_rows * len(ref)
    with (
        mock.patch.object(objectives, "_BLOCK_CELLS", cells),
        mock.patch.object(objectives, "_exact_candidates", wraps=objectives._exact_candidates) as filt,
    ):
        got_pos, got_d = objectives._topl_blocked(ref, ref, ids, ids, 10)
    assert filt.call_count == 0
    want_pos, want_d = brute_topl(ref, ref, ids, ids, 10)
    assert np.array_equal(got_pos, want_pos)
    assert got_d.tobytes() == want_d.tobytes()


EMBEDDINGS = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.1", "embeddings.parquet")


def test_exact_math_ranks_on_the_report_embeddings():
    """The first 600 report embeddings (d=64, L=10): no projection
    separates them, so every row goes through the gemm filter and exact
    refine, byte-identical to brute force."""
    ref = _slice(EMBEDDINGS, ["embedding"], 600)
    ids = np.arange(len(ref), dtype=np.int64)
    with mock.patch.object(objectives, "_exact_candidates", wraps=objectives._exact_candidates) as filt:
        got_pos, got_d = objectives._topl_blocked(ref, ref, ids, ids, 10)
    assert sum(len(c.args[0]) for c in filt.call_args_list) == len(ref)
    want_pos, want_d = brute_topl(ref, ref, ids, ids, 10)
    assert np.array_equal(got_pos, want_pos)
    assert got_d.tobytes() == want_d.tobytes()


def test_projection_windows_gather_the_full_width_distances():
    """Where the projection separates points every row's window covers at
    most half of ref, and its window distances are the very bytes of the
    same cells of the full-width ``_distances_exact`` matrix, whatever
    the window's width. Where it does not (d=64, no dominant column) the
    windows cover over half of ref, so those rows go to the gemm filter."""
    rng = np.random.default_rng(0)
    for dim, spread in ((2, 100.0), (4, 100.0), (8, 100.0), (64, 1.0)):
        ref = rng.normal(size=(2000, dim))
        ref[:, 0] *= spread
        xb, self_pos = ref[:100], np.arange(100)
        windows = objectives._ProjectionWindows(ref, 5)
        lo, hi = windows.bounds(xb, self_pos)
        if spread == 1.0:
            assert (2 * (hi - lo) > len(ref)).all()
            continue
        assert (2 * (hi - lo) <= len(ref)).all()
        d, cols = windows.distances(xb, lo, hi, self_pos)
        assert d.shape[1] < 100
        full = _distances_exact(xb, ref)
        full[np.arange(100), np.arange(100)] = np.inf
        live = np.isfinite(d)
        assert d[live].tobytes() == np.take_along_axis(full, cols, axis=1)[live].tobytes()
