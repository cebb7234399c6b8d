"""The exact kNN kernel (``objectives._topl_blocked``) against a brute-force
oracle, byte for byte — no Spark needed, so this is the quick kernel check.

The oracle is the full distance matrix plus a full (dist, id) sort. For
the gemm path it is ``_distances`` over the kernel's own row blocks: the
block rule must be the same on both sides because it is part of the
bytes (see ``objectives._BLOCK_CELLS``). For the exact-math path it is
``_distances_exact`` over all rows at once, since those bytes follow no
block. The generated tables hold what breaks a pruned build: duplicates
and exact distance ties, constant columns (a constant projection column
among them), values near 1e5 where ‖x‖² − 2x·y + ‖y‖² cancels, tables of
at most L+1 rows, query rows foreign to the reference set, and 1-row
trailing blocks (numpy routes those through gemv).
"""

import os
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mopso_engine import objectives
from mopso_engine.assign import _distances, _distances_exact


def brute_topl(x, ref, ref_ids, x_ids, l_nbrs, exact_math):
    n_ref = ref.shape[0]
    l_eff = min(l_nbrs, n_ref - 1)
    if exact_math:
        dist_fn, block = _distances_exact, max(1, len(x))
    else:
        dist_fn, block = _distances, max(1, objectives._BLOCK_CELLS // n_ref)
    pos, dist = [], []
    for s in range(0, len(x), block):
        d = dist_fn(x[s : s + block], ref)
        d[ref_ids[None, :] == x_ids[s : s + block, None]] = np.inf
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
    kind = draw(st.sampled_from(["grid", "normal", "near_1e5"]))
    if kind == "grid":  # duplicate points and exact distance ties
        ref = rng.integers(0, draw(st.integers(2, 12)), size=(n_ref, dim)).astype(np.float64)
    elif kind == "normal":  # anisotropic, as real tables often are, so windows prune
        scale = 10.0 ** (draw(st.integers(-3, 3)) - 2.0 * rng.random(dim))
        ref = rng.normal(size=(n_ref, dim)) * scale
    else:  # ‖x‖² ~ 1e10 against squared gaps of 1e-4..1
        ref = 1e5 + rng.integers(0, 5, size=(n_ref, dim)) * draw(st.sampled_from([1e-2, 0.5]))
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
    return x, ref, ref_ids, x_ids, l_nbrs, block_rows, draw(st.booleans())


@given(knn_inputs())
@settings(max_examples=400, deadline=None)
def test_topl_blocked_equals_brute_force_bytes(case):
    x, ref, ref_ids, x_ids, l_nbrs, block_rows, exact_math = case
    with mock.patch.object(objectives, "_BLOCK_CELLS", block_rows * ref.shape[0]):
        got_pos, got_d = objectives._topl_blocked(x, ref, ref_ids, x_ids, l_nbrs, exact_math=exact_math)
        want_pos, want_d = brute_topl(x, ref, ref_ids, x_ids, l_nbrs, exact_math)
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
@pytest.mark.parametrize("kind", ["grid_ties", "duplicates", "constant_columns", "near_1e5", "l_at_least_n_minus_1"])
def test_exact_math_ranks_equal_brute_force(kind, dim, block_rows):
    """The exact-math path (gemm filter, exact refine) returns the
    brute-force ``_distances_exact`` ranks and distances byte for byte,
    at any row block (None: the default ``_BLOCK_CELLS``)."""
    x, ref, ref_ids, x_ids, l_nbrs = _exact_case(kind, dim)
    cells = objectives._BLOCK_CELLS if block_rows is None else block_rows * len(ref)
    with mock.patch.object(objectives, "_BLOCK_CELLS", cells):
        got_pos, got_d = objectives._topl_blocked(x, ref, ref_ids, x_ids, l_nbrs, exact_math=True)
    want_pos, want_d = brute_topl(x, ref, ref_ids, x_ids, l_nbrs, exact_math=True)
    assert got_pos.shape == (len(x), min(l_nbrs, len(ref) - 1))
    assert np.array_equal(got_pos, want_pos)
    assert got_d.tobytes() == want_d.tobytes()


LINEITEM = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.1", "lineitem_slice.parquet")


@pytest.mark.parametrize("block_rows", [37, None])
def test_exact_math_ranks_on_the_lineitem_slice(block_rows):
    """The first 3000 rows of the lineitem slice (quantity, extended
    price, discount, tax; d=4, columns 5 orders of magnitude apart):
    byte-identical to brute force. The refine must reduce the same
    (rows, width, d) shape as ``_distances_exact``; a reduction of
    another shape (e.g. ``(diff * diff).sum(-1)``) moves the last ulp of
    thousands of these distances."""
    import pyarrow.parquet as pq

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    t = pq.read_table(LINEITEM, columns=cols).slice(0, 3000)
    ref = np.stack([t.column(c).to_numpy() for c in cols], axis=1).astype(np.float64)
    ids = np.arange(len(ref), dtype=np.int64)
    cells = objectives._BLOCK_CELLS if block_rows is None else block_rows * len(ref)
    with mock.patch.object(objectives, "_BLOCK_CELLS", cells):
        got_pos, got_d = objectives._topl_blocked(ref, ref, ids, ids, 10, exact_math=True)
    want_pos, want_d = brute_topl(ref, ref, ids, ids, 10, exact_math=True)
    assert np.array_equal(got_pos, want_pos)
    assert got_d.tobytes() == want_d.tobytes()


def test_projection_windows_gather_the_full_width_distances():
    """Where the projection separates points the pruned path is taken, and
    its window distances are the very bytes of the full-width
    ``_distances`` matrix (a product over the window's columns alone would
    round differently). A block whose windows cover most of ref falls
    back to the full-width matrix."""
    rng = np.random.default_rng(0)
    for dim, spread in ((2, 100.0), (4, 100.0), (8, 100.0), (64, 1.0)):
        ref = rng.normal(size=(2000, dim))
        ref[:, 0] *= spread
        pruned = spread > 1.0
        xb = ref[:100]
        d, cols = objectives._ProjectionWindows(ref, 5).distances(xb, np.arange(100))
        full = _distances(xb, ref)
        full[np.arange(100), np.arange(100)] = np.inf
        assert (cols is not None) == pruned
        if pruned:
            assert d.shape[1] < 100
            live = np.isfinite(d)
            assert d[live].tobytes() == np.take_along_axis(full, cols, axis=1)[live].tobytes()
        else:
            assert d.tobytes() == full.tobytes()
