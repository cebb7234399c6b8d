"""The two clustering objectives, both minimized (SURVEY A4/A5).

* **Dev** — Σ over points of the distance to the assigned (nearest)
  center (Spark_MOPSO_Avg.scala:1030-1033).
* **Conn** — for each point take its L nearest *other* points by
  euclidean distance; add ``1/rank`` (rank 1-based) for every neighbor
  that lands in the SAME cluster; Σ over points
  (Spark_MOPSO_Avg.scala:1036-1063). Note the reference's sign quirk:
  this rewards separation, the opposite of canonical MOCK connectivity
  (SURVEY §4.2.6) — reproduced as-is.

Architecture: the kNN table is **solution-independent**, so it is
computed ONCE per dataset and cached; each MOPSO iteration then scores
all S candidate solutions in a single Arrow-vectorized pass + one tiny
partial/final aggregation (S rows out). The reference instead re-scans
per particle per iteration (Spark_MOPSO_Avg.scala:211-228).

Scale: the exact kNN is the only O(N²) corner (SURVEY §7.4.1). The
fit's ``fitness_mode`` picks one of two neighbourhoods, both built by
:func:`_knn_map`: 'exact' (global neighbours, broadcast block-cdist, to
``MAX_EXACT_KNN_ROWS`` rows; the Single/Particle semantics) and
'partition_local' (neighbours within each partition, no broadcast; the
reference Avg semantics, what it ran at cluster scale).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mopso_engine.assign import _distances, _distances_exact
from mopso_engine.worker import prepare

#: cap on the scratch cells per block of the kNN kernel (262_144 cells =
#: 2 MB of float64): a window tensor (rows × width × d) or a gemm filter
#: matrix (rows × |ref|). Sized to stay CACHE-resident per worker, not
#: merely to bound memory. The old 4M-cell (32 MB) block streamed every
#: distance matrix through RAM; with 32 concurrent Python workers the
#: aggregate traffic saturated memory bandwidth — measured on the
#: 600k-row lineitem fit layout (64 partitions × 9.4k rows, d=4): 32 MB
#: blocks → 22.7s wall / 558 task-core-s; 2 MB → 6.8s / 155; the same
#: kernel single-task isolated runs 2.0s either way. The neighbour table
#: does not depend on it: every distance is an exact-math one.
_BLOCK_CELLS = 262_144
_EPS = np.finfo(np.float64).eps
_TINY = np.finfo(np.float64).tiny


def _mask_self(d: np.ndarray, self_pos: np.ndarray) -> np.ndarray:
    """Full-width (rows × |ref|) ``d`` with each row's own column (its
    ref position, −1 when foreign to ref) set to inf."""
    hit = self_pos >= 0
    d[np.flatnonzero(hit), self_pos[hit]] = np.inf
    return d


def _select_topl(d: np.ndarray, col_ids: np.ndarray, l_eff: int):
    """Columns of the l_eff smallest entries of each row of ``d`` by
    (dist, id) — ``col_ids`` is the id of each cell — in that order,
    with their distances. ``argpartition`` at ranks l_eff−1 and l_eff
    finds the rows whose L-th and (L+1)-th distances tie; only those
    rows pay for a full (dist, id) sort, so the neighbor SET at a
    boundary tie is the one ``knn_pairs_crossjoin``'s row_number picks,
    not argpartition's internal order. Needs l_eff < d.shape[1]."""
    part = np.argpartition(d, (l_eff - 1, l_eff), axis=1)
    kth = np.take_along_axis(d, part[:, l_eff - 1 : l_eff + 1], axis=1)
    part = part[:, :l_eff]
    tied = np.flatnonzero(kth[:, 0] == kth[:, 1])
    if len(tied):
        part[tied] = np.lexsort((col_ids[tied], d[tied]), axis=1)[:, :l_eff]
    pd_d = np.take_along_axis(d, part, axis=1)
    order = np.lexsort((np.take_along_axis(col_ids, part, axis=1), pd_d), axis=1)
    return np.take_along_axis(part, order, axis=1), np.take_along_axis(pd_d, order, axis=1)


def _exact_distances(xb: np.ndarray, ref: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """``_distances_exact``'s bytes for the ref positions ``cols`` (rows ×
    width) of each row of xb. The (rows, width, d) gather is reduced with
    ``_distances_exact``'s own ``einsum("nkd,nkd->nk")``, so a distance
    has the bytes of the same cell of the brute-force matrix (a reduction
    of another shape may round differently) and depends on no row block.
    Row steps keep the tensor within ``_BLOCK_CELLS``."""
    d = np.empty(cols.shape)
    step = max(1, _BLOCK_CELLS // max(1, cols.shape[1] * ref.shape[1]))
    for s in range(0, len(xb), step):
        diff = xb[s : s + step, None, :] - ref[cols[s : s + step]]
        d[s : s + step] = np.sqrt(np.einsum("nkd,nkd->nk", diff, diff))
    return d


class _ProjectionWindows:
    """Exact candidate windows of ``_topl_blocked``, found with no gemm.

    ``ref`` is sorted once on its highest-variance coordinate c. Let e be
    a computed exact-math distance (``_distances_exact``'s Σ(x−y)²), D the
    true distance and u = eps/2. Each of the d squared differences
    carries three roundings (the difference's, squared, and the
    square's), and their sum at most d − 1 more in any order. All terms
    are non-negative, so the computed sum is S ≥ (1 − u)^(d+2)·D² −
    d·2⁻¹⁰⁷⁵: a square below the normal range loses at most 2⁻¹⁰⁷⁵, and
    a difference or sum with a subnormal result is exact. The rounded
    root gives e ≥ (1 − u)·√S. Hence D ≤ (e + f)·(1 + (d + 4)·eps/2) with
    f = √(d·tiny). Overflow only raises e, which keeps the bound.

    Let r be the row's L-th smallest e among its 2(L+1) projection
    neighbours, self excluded. These are L distinct columns with e ≤ r,
    so the row's L-th smallest e over ref is ≤ r, and so is the e of
    every column of its top L by (e, id), ties included. Each of those
    has |y_c − x_c| ≤ D ≤ (r + f)·(1 + (d + 4)·eps/2). The half-width
    h = (r + f)·(1 + (d + 4)·eps), computed with two roundings, is at
    least that bound (for d below 10¹²); the window's ends x_c ∓ h are
    rounded to nearest and then moved one ulp outward, which puts them at
    or beyond the exact ends. Every top-L column lies in the window, so
    ranking the window's exact distances by (e, id) gives the brute-force
    ranks and distances. Pruning is exact, not approximate."""

    def __init__(self, ref: np.ndarray, l_eff: int):
        n_ref, dim = ref.shape
        self.ref = ref
        self.l_eff = l_eff
        self.finite = bool(np.isfinite(ref).all())
        self.c = int(np.argmax(ref.var(axis=0)))
        self.order = np.argsort(ref[:, self.c], kind="stable")
        self.proj = ref[self.order, self.c]
        self.n_adj = min(n_ref, 2 * (l_eff + 1))
        self.floor = np.sqrt(dim * _TINY)
        self.grow = 1.0 + (dim + 4) * _EPS

    def bounds(self, x: np.ndarray, self_pos: np.ndarray):
        """Each row's window ``order[lo:hi]``; (0, |ref|) for a row whose
        values or ref's are not finite."""
        n_ref = len(self.proj)
        lo = np.zeros(len(x), dtype=np.int64)
        hi = np.full(len(x), n_ref, dtype=np.int64)
        rows = np.flatnonzero(np.isfinite(x).all(axis=1)) if self.finite else np.empty(0, np.int64)
        xc = x[rows, self.c]
        start = np.clip(np.searchsorted(self.proj, xc) - (self.l_eff + 1), 0, n_ref - self.n_adj)
        adj = self.order[start[:, None] + np.arange(self.n_adj)]
        d_adj = _exact_distances(x[rows], self.ref, adj)
        d_adj[adj == self_pos[rows, None]] = np.inf
        r = np.partition(d_adj, self.l_eff - 1, axis=1)[:, self.l_eff - 1]
        half = (r + self.floor) * self.grow
        lo[rows] = np.searchsorted(self.proj, np.nextafter(xc - half, -np.inf), "left")
        hi[rows] = np.searchsorted(self.proj, np.nextafter(xc + half, np.inf), "right")
        return lo, hi

    def distances(self, xb: np.ndarray, lo: np.ndarray, hi: np.ndarray, self_pos: np.ndarray):
        """(d, cols) for one row block: the exact distances to the ref
        positions ``cols`` of the block's windows, padded to the widest
        (at least L+1 columns, as ``_select_topl`` needs); padding and
        self are inf."""
        n_ref = len(self.proj)
        width = max(int((hi - lo).max()), self.l_eff + 1)
        idx = lo[:, None] + np.arange(width)
        cols = self.order[np.minimum(idx, n_ref - 1)]
        d = _exact_distances(xb, self.ref, cols)
        d[(idx >= hi[:, None]) | (cols == self_pos[:, None])] = np.inf
        return d, cols


def _exact_candidates(xb: np.ndarray, ref: np.ndarray, rn_max: float, self_pos: np.ndarray, l_eff: int):
    """(d, cols) for one row block whose windows would cover over half of
    ref (e.g. at d=64): ``d`` holds ``_distances_exact``'s bytes for the
    ref positions ``cols`` (self excluded, inf), a superset of each row's
    top L by (exact distance, id). ``rn_max`` is max‖y‖² over ref, as
    ``_distances`` computes it. Values that are not finite get the
    full-width brute-force matrix.

    Filter with gemm, refine exactly. Let g be the gemm distance of a
    pair (``_distances``' form), e its exact-math distance (Σ(x−y)²), D
    the true distance, B = ‖x‖² + ‖y‖², u = eps/2 and γ_n = nu/(1 − nu).
    In g², the norms and the dot product are sums of d products, so each
    carries an error ≤ γ_d times its sum of |terms| (any summation order,
    FMA or not): ≤ 2γ_d·B together; the two additions add ≤ 6u·B. The
    clamp at 0 only moves g² toward D² ≥ 0, and |√a − √b| ≤ √|a − b|, so
    |√g² − D| ≤ √((d + 3)·eps·B); the rounded root adds ≤ u·(D + that).
    e² sums d non-negative terms, each rounded twice, so e² = D²(1 + θ),
    |θ| ≤ γ_{d+2}, and |e − D| ≤ (d + 3)·eps·D with D ≤ √(2B). Together
    |g − e| ≤ √((d + 3)·eps·B) + (d + 5)·eps·√(2B), below
    m = √((64 + 4d)·eps·B) = 2√((d + 16)·eps·B) by more than a factor of
    1.9 for any d below 10¹². The slack covers computing B (as ‖x‖² +
    max‖y‖², from computed norms), m itself and the sum r + 2m below;
    the tiny term covers underflow (each an absolute error ≤ 2⁻¹⁰⁷⁴ in a
    square). So |g − e| ≤ m for every pair.

    Let r be the row's L-th smallest g. Its L columns at or below r have
    e ≤ r + m, so the row's L-th smallest e is ≤ r + m, and so is the e
    of every column of its top L by (e, id), ties included: each has
    g ≤ r + 2m and is kept. Recomputing the kept columns exactly
    (:func:`_exact_distances`) and ranking them by (e, id) gives the
    brute-force ranks and distances."""
    n_ref, dim = ref.shape
    bound = (xb * xb).sum(axis=1) + rn_max
    if not np.isfinite(2.0 * bound).all():
        return _mask_self(_distances_exact(xb, ref), self_pos), np.broadcast_to(np.arange(n_ref), (len(xb), n_ref))
    g = _mask_self(_distances(xb, ref), self_pos)
    r = np.partition(g, l_eff - 1, axis=1)[:, l_eff - 1]
    m = np.sqrt((64.0 + 4.0 * dim) * _EPS * bound + _TINY)
    kept = (g <= (r + 2.0 * m)[:, None]).sum(axis=1)
    # at least L+1 columns, as _select_topl needs (x may be foreign to ref)
    width = min(max(int(kept.max()), l_eff + 1), n_ref)
    # the width smallest g of a row hold every kept column of it
    if width < n_ref:
        cols = np.argpartition(g, width - 1, axis=1)[:, :width]
    else:
        cols = np.broadcast_to(np.arange(n_ref), g.shape)
    d = _exact_distances(xb, ref, cols)
    d[cols == self_pos[:, None]] = np.inf
    return d, cols


def _window_blocks(width: np.ndarray, dim: int):
    """(start, stop) runs over rows sorted by window ``width``: each run's
    (rows × widest × d) tensor stays within ``_BLOCK_CELLS`` (one row at
    least)."""
    s = 0
    while s < len(width):
        # a run's widest row is its last; the narrowest caps its length
        w = width[s : s + max(1, _BLOCK_CELLS // max(1, int(width[s]) * dim))]
        fits = np.arange(1, len(w) + 1) * w * dim <= _BLOCK_CELLS
        stop = s + max(1, int(fits.sum()))
        yield s, stop
        s = stop


def _topl_blocked(x: np.ndarray, ref: np.ndarray, ref_ids: np.ndarray, x_ids: np.ndarray, l_nbrs: int):
    """Top-L neighbors of each row of x against ref (ids sorted and
    unique), ranked by (exact-math distance, id): ``assign._distances_exact``'s
    Σ(x−y)², the distances a SQL oracle reproduces. Rows whose id appears
    in ref exclude themselves. Returns (nbr_pos, nbr_dist) of shape
    (len(x), l_eff), l_eff = min(L, |ref| − 1), byte-identical to
    brute-force ``_distances_exact`` ranking whatever the row blocks.

    Each row's candidates come from its :class:`_ProjectionWindows`
    window when that covers at most half of ref; the other rows (and
    values that are not finite) go through the gemm filter and exact
    refine of :func:`_exact_candidates`. The data picks the path, row by
    row; both are exact. Window rows are scored in blocks of similar
    width, each block's tensor within ``_BLOCK_CELLS``."""
    n_ref, dim = ref.shape
    l_eff = min(l_nbrs, n_ref - 1)
    out_pos = np.empty((len(x), l_eff), dtype=np.int64)
    out_d = np.empty((len(x), l_eff), dtype=np.float64)
    if l_eff == 0 or not len(x):
        return out_pos, out_d
    pos = np.clip(np.searchsorted(ref_ids, x_ids), 0, n_ref - 1)
    self_pos = np.where(ref_ids[pos] == x_ids, pos, -1)
    windows = _ProjectionWindows(ref, l_eff)
    lo, hi = windows.bounds(x, self_pos)
    width = np.maximum(hi - lo, l_eff + 1)
    narrow = np.flatnonzero(2 * width <= n_ref)
    narrow = narrow[np.argsort(width[narrow], kind="stable")]

    def emit(rows, d, cols):
        sel, out_d[rows] = _select_topl(d, ref_ids[cols], l_eff)
        out_pos[rows] = np.take_along_axis(cols, sel, axis=1)

    for s, e in _window_blocks(width[narrow], dim):
        rows = narrow[s:e]
        emit(rows, *windows.distances(x[rows], lo[rows], hi[rows], self_pos[rows]))
    wide = np.flatnonzero(2 * width > n_ref)
    if len(wide):
        rn_max = (ref * ref).sum(axis=1).max()  # as _distances computes it
        block = max(1, _BLOCK_CELLS // n_ref)
        for s in range(0, len(wide), block):
            rows = wide[s : s + block]
            emit(rows, *_exact_candidates(x[rows], ref, rn_max, self_pos[rows], l_eff))
    return out_pos, out_d


#: (id, label, self_nbr_flat, nbr_n) of the fit's neighbour table: self +
#: L neighbor vectors as (1+L)·d raw little-endian float64 bytes. One
#: bytes object per row Arrow-transfers and reconstructs (np.frombuffer)
#: several times faster than a list<double> column, which materializes
#: 600k tiny ndarrays per pass and GC-thrashes.
_NBR_SCHEMA_BIN = StructType(
    [
        StructField("id", LongType(), False),
        StructField("label", IntegerType(), True),
        StructField("self_nbr_flat", BinaryType(), False),
        StructField("nbr_n", IntegerType(), False),
    ]
)


def _pack_self_nbrs(x: np.ndarray, ref: np.ndarray, nbr_pos: np.ndarray, l_nbrs: int) -> np.ndarray:
    """(n,d) self + (n,l_eff) neighbor positions into ref → (n, (1+L)·d)
    packed rows, padded with self-copies up to L neighbors."""
    n, d_ = x.shape
    l_eff = nbr_pos.shape[1]
    nb = ref[nbr_pos.ravel()].reshape(n, l_eff * d_)
    if l_eff < l_nbrs:
        pad = np.tile(x, (1, l_nbrs - l_eff))
        return np.concatenate([x, nb, pad], axis=1)
    return np.concatenate([x, nb], axis=1)


PAIRS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("nbr_id", LongType(), False),
        StructField("rank", IntegerType(), False),
        StructField("nbr_dist", DoubleType(), False),
    ]
)


#: exact mode collects+broadcasts the full (id, features) table; beyond
#: this many rows that is a driver/executor memory foot-gun, so the kNN
#: map refuses it — callers switch to 'partition_local' (the reference
#: Avg semantics).
MAX_EXACT_KNN_ROWS = 200_000


def _unique_ids(sorted_ids: np.ndarray) -> np.ndarray:
    """``sorted_ids``, or a ValueError naming an id that occurs twice: a
    kNN table finds a row's own column by its id, so a duplicated id
    would keep the row as its own nearest neighbour."""
    dup = np.flatnonzero(sorted_ids[1:] == sorted_ids[:-1])
    if len(dup):
        raise ValueError(f"duplicate id {sorted_ids[dup[0]]} in the kNN input: point ids must be unique")
    return sorted_ids


def _broadcast_ref(points: DataFrame, n_rows: int | None):
    """The broadcast id-sorted (ids, features) of an exact-scope kNN
    table: all rows collected once, refused above ``MAX_EXACT_KNN_ROWS``
    (``n_rows``, or a count) before the collect, and refused with a
    duplicate id."""
    n = n_rows if n_rows is not None else points.count()
    if n > MAX_EXACT_KNN_ROWS:
        raise ValueError(
            f"exact kNN collects all {n} rows and broadcasts them to every executor; beyond "
            f"{MAX_EXACT_KNN_ROWS} rows fit with MopsoConfig(fitness_mode='partition_local') "
            "(neighbours within each partition, the reference Avg's cluster-scale semantics)"
        )
    rows = points.select("id", "features").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    feats = np.array([r["features"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return points.sparkSession.sparkContext.broadcast((_unique_ids(ids[order]), feats[order]))


def _pair_rows(ids: np.ndarray, ref_ids: np.ndarray, nbr_pos: np.ndarray, nbr_d: np.ndarray) -> pd.DataFrame:
    """``PAIRS_SCHEMA`` rows of one scored block."""
    n, l_eff = nbr_pos.shape
    return pd.DataFrame(
        {
            "id": np.repeat(ids, l_eff),
            "nbr_id": ref_ids[nbr_pos].ravel(),
            "rank": np.tile(np.arange(1, l_eff + 1, dtype=np.int32), n),
            "nbr_dist": nbr_d.ravel(),
        }
    )


def _knn_map(
    points: DataFrame,
    l_nbrs: int,
    scope: str,
    *,
    packed: bool,
    n_rows: int | None = None,
    collect_from: DataFrame | None = None,
) -> DataFrame:
    """The fit's kNN table and the partition-local pair table: ONE map
    stage, no shuffle, each scored block ranked against an id-sorted
    reference set by ``_topl_blocked`` (exact-math distances, so the
    neighbours follow no block or layout within the scope).
    ``scope='exact'`` collects + broadcasts all (id, features) once, from
    ``collect_from`` when given (the same rows as ``points`` in another
    layout: the fit collects its input, not the re-laid-out table, so the
    collect runs no shuffle), and scores each non-empty Arrow batch;
    ``'partition_local'`` scores the whole partition against itself (the
    reference Avg's semantics, Spark_MOPSO_Avg.scala:843-865).
    ``packed=True`` emits the fit's ``_NBR_SCHEMA_BIN`` rows, else
    ``PAIRS_SCHEMA`` rows — both from the same neighbor positions, so the
    same neighbors at the same ranks. A row with no neighbor (1-row
    partition) packs as 1+L self-copies with ``nbr_n = 0`` and emits no
    pair. A duplicated id raises a ValueError naming it (at the collect
    when exact, in the partition's task when partition-local)."""
    if scope == "exact":
        bc = _broadcast_ref(collect_from if collect_from is not None else points, n_rows)

    def scored_blocks(batches: Iterable[pd.DataFrame]):
        """(pdf, x, ref, ref_ids) per scored block."""
        if scope == "exact":
            ref_ids, ref = bc.value
            for pdf in batches:
                if len(pdf):
                    yield pdf, np.stack(pdf["features"].to_numpy()).astype(np.float64), ref, ref_ids
            return
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:  # else an empty partition
            pdf = pd.concat(chunks, ignore_index=True)
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            order = np.argsort(pdf["id"].to_numpy())
            yield pdf, x, x[order], _unique_ids(pdf["id"].to_numpy()[order])

    def kernel(batches: Iterable[pd.DataFrame]):
        prepare()
        for pdf, x, ref, ref_ids in scored_blocks(batches):
            ids = pdf["id"].to_numpy()
            nbr_pos, nbr_d = _topl_blocked(x, ref, ref_ids, ids, l_nbrs)
            if packed:
                flat = _pack_self_nbrs(x, ref, nbr_pos, l_nbrs)
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "label": pdf["label"],
                        "self_nbr_flat": [r.tobytes() for r in np.ascontiguousarray(flat)],
                        "nbr_n": np.full(len(ids), nbr_pos.shape[1], dtype=np.int32),
                    }
                )
            else:
                yield _pair_rows(ids, ref_ids, nbr_pos, nbr_d)

    if packed:
        out = points.select("id", "features", "label").mapInPandas(kernel, schema=_NBR_SCHEMA_BIN)
    else:
        out = points.select("id", "features").mapInPandas(kernel, schema=PAIRS_SCHEMA)
    if scope == "exact":
        out._knn_broadcast = bc  # released by _release_knn once the table's consumer is done
    return out


def _release_knn(table: DataFrame) -> None:
    """Destroy the exact-scope broadcast behind a :func:`_knn_map` or
    :func:`knn_pairs_exact` table (N·d·8 bytes on the driver and every
    executor). Call it once nothing will compute the table again: after
    its cache is unpersisted, or after its last job. No-op for a
    partition-local table."""
    bc = getattr(table, "_knn_broadcast", None)
    if bc is not None:
        bc.destroy()
        table._knn_broadcast = None


def knn_pairs_exact(points: DataFrame, l_nbrs: int, *, n_rows: int | None = None) -> DataFrame:
    """Exact top-L neighbor pairs via broadcast block-distance.

    All (id, features) are collected once into a numpy block that ships to
    executors via Spark broadcast, and each row's L nearest others are
    kept — O(N²/P) vectorized work, no shuffle. Ranks are by
    (``assign._distances_exact``'s Σ(x−y)², nbr_id), the kernel of
    ``with_neighbors(mode='exact')``, so the pairs are the fit's
    neighbours with the distances a SQL oracle reproduces (the reference
    relied on sort stability at ties, Spark_MOPSO_Avg.scala:1050-1052).
    The table scores fixed row blocks of the id-sorted broadcast over
    ``spark.range(n_blocks)``, as ``metrics.silhouette_exact`` does, so
    the input is read only by the collect.

    Guarded by ``MAX_EXACT_KNN_ROWS``, before the collect: the
    full-table collect + broadcast is a driver/executor memory foot-gun
    beyond ~10⁵ rows — callers with bigger tables must use
    'partition_local'. Pass ``n_rows`` when already known to skip the
    extra count job. Release the broadcast with :func:`_release_knn`.
    """
    bc = _broadcast_ref(points, n_rows)
    n = len(bc.value[0])
    block = max(1, _BLOCK_CELLS // max(1, n))  # query rows per range row
    n_blocks = -(-n // block)

    def kernel(batches: Iterable[pd.DataFrame]):
        prepare()
        ref_ids, ref = bc.value
        for pdf in batches:
            for b in pdf["id"].to_numpy():
                lo, hi = int(b) * block, min(n, (int(b) + 1) * block)
                nbr_pos, nbr_d = _topl_blocked(ref[lo:hi], ref, ref_ids, ref_ids[lo:hi], l_nbrs)
                yield _pair_rows(ref_ids[lo:hi], ref_ids, nbr_pos, nbr_d)

    spark = points.sparkSession
    out = spark.range(
        n_blocks, numPartitions=max(1, min(n_blocks, spark.sparkContext.defaultParallelism))
    ).mapInPandas(kernel, schema=PAIRS_SCHEMA)
    out._knn_broadcast = bc
    return out


def knn_pairs_partition_local(points: DataFrame, l_nbrs: int) -> DataFrame:
    """Top-L neighbor pairs WITHIN each input partition — the pair-table
    rendering of ``with_neighbors(mode='partition_local')`` (same kernel,
    :func:`_knn_map`), so it reproduces the fit kernel's neighbor sets and
    ranks EXACTLY for any points table laid out the way the fit laid it
    out. No collect, no broadcast, no shuffle — the rescore path of
    partition_local fits (layout is semantics here: callers must pass the
    same layout the fit scored, see ``MopsoEngine.fit``)."""
    return _knn_map(points, l_nbrs, "partition_local", packed=False)


def knn_pairs_crossjoin(points: DataFrame, l_nbrs: int) -> DataFrame:
    """Exact top-L pairs, pure DataFrame rendering (J2 + O4): broadcast
    self-cross-join + windowed row_number ≤ L. The declarative twin of
    :func:`knn_pairs_exact` and its test oracle, checkable in SQL;
    quadratic, so use on samples/small N."""
    from pyspark.sql.window import Window

    from mopso_engine.functions import euclidean_expr

    a = points.select(F.col("id"), F.col("features"))
    b = points.select(F.col("id").alias("nbr_id"), F.col("features").alias("nbr_features"))
    dist = euclidean_expr("features", "nbr_features")
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id") != F.col("nbr_id"))
        .select("id", "nbr_id", dist.alias("nbr_dist"))
    )
    w = Window.partitionBy("id").orderBy(F.col("nbr_dist").asc(), F.col("nbr_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= l_nbrs)
        .select("id", "nbr_id", "rank", "nbr_dist")
    )


def with_neighbors(
    points: DataFrame,
    l_nbrs: int,
    mode: str = "exact",
    *,
    n_rows: int | None = None,
    collect_from: DataFrame | None = None,
) -> DataFrame:
    """points → (id, label, self_nbr_flat, nbr_n), the cached input of the
    per-iteration fitness kernel.

    ``self_nbr_flat`` is ONE fixed-width binary value of (1+L)·d float64s:
    the point's own vector followed by its L neighbors' vectors, padded
    with self-copies when fewer than L neighbors exist (``nbr_n`` is the
    real count; padding gets weight 0 in the kernel). One uniform column
    Arrow-transfers an order of magnitude faster than nested
    per-neighbor lists, and the fitness kernel gets the whole batch with
    a single reshape.

    The neighbours are ranked by (exact-math distance, id), as
    :func:`knn_pairs_exact` and :func:`knn_pairs_crossjoin` rank them.
    Modes (the fit passes ``MopsoConfig.fitness_mode``), the two scopes
    of :func:`_knn_map`, each ONE map stage with zero shuffles:
    * 'exact' — global kNN via a broadcast of all features (to
      ``MAX_EXACT_KNN_ROWS`` rows: the broadcast is N·d·8 B), collected
      from ``collect_from`` when given: the same rows as ``points`` in
      the layout they came in, before a re-layout.
    * 'partition_local' — neighbors within each input partition only: the
      reference Avg's semantics (Spark_MOPSO_Avg.scala:843-865), no
      broadcast.
    """
    if mode not in ("exact", "partition_local"):
        raise ValueError(f"unknown knn mode: {mode!r} (expected 'exact' or 'partition_local')")
    return _knn_map(points, l_nbrs, mode, packed=True, n_rows=n_rows, collect_from=collect_from)


#: fitness-kernel reduction block: a partition of up to 2048 rows reduces
#: in one block. The exact-mode layout (engine.py) has ~256 rows per
#: partition but at most 4×cores partitions, so above 2048·4·cores rows
#: its partitions reduce in several blocks, as does any caller-owned
#: partition_local partition over 2048 rows.
#: NOTE the block size is part of the float-summation grouping, so
#: changing it changes seeded fit trajectories in the last ulps
#: (regenerate the recorded oracles with tools/fit_oracle.py).
_REDUCE_BLOCK_ROWS = 2048


def _fixed_blocks(batches: "Iterable[pd.DataFrame]", block_rows: int):
    """Re-chunk a stream of Arrow batches into fixed ``block_rows`` blocks
    (last block ragged). The block boundaries depend only on row order and
    the constant — never on the incoming batch sizes — which is what makes
    downstream per-block float reductions config-independent. Memory:
    O(block_rows + one incoming batch)."""
    buf: list[pd.DataFrame] = []
    buffered = 0
    for pdf in batches:
        if not len(pdf):
            continue
        buf.append(pdf)
        buffered += len(pdf)
        while buffered >= block_rows:
            cat = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            yield cat.iloc[:block_rows]
            rest = cat.iloc[block_rows:].reset_index(drop=True)
            buf = [rest] if len(rest) else []
            buffered = len(rest)
    if buffered:
        yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]


_FITNESS_PARTIAL_SCHEMA = StructType(
    [
        StructField("solution", IntegerType(), False),
        StructField("dev_p", DoubleType(), False),
        StructField("conn_p", DoubleType(), False),
        StructField("n_p", LongType(), False),
    ]
)


def evaluate_solutions(nbr_df: DataFrame, centers_stack: np.ndarray, *, partition_weighted: bool = False, n_total: int | None = None) -> np.ndarray:
    """Score S candidate clusterings in ONE distributed pass.

    Input: the cached `with_neighbors` table. Output: (S, 2) numpy array of
    [Dev, Conn] per solution.

    Physical shape: MapInPandas (numpy batch kernel) emits S partial rows
    per Arrow batch → HashAggregate(partial) → single tiny Exchange →
    HashAggregate(final) → S-row collect. The data never shuffles; only
    S·num_batches partial rows do.

    ``partition_weighted=True`` reproduces the reference Avg's weighted
    partial fitness: each partition's [Dev_p, Conn_p] scaled by |p|/N and
    summed (Spark_MOPSO_Avg.scala:843-865) — requires ``n_total``.
    """
    cs = np.asarray(centers_stack, dtype=np.float64)
    s, k, d_ = cs.shape
    flat = cs.reshape(s * k, d_)

    def kernel(batches: Iterable[pd.DataFrame]):
        prepare()
        # accumulate over the partition's batches and emit ONE partial
        # row-set per partition: the per-iteration job becomes map-only
        # (no Exchange at all); the driver sums S×num_partitions rows —
        # the same control-plane merge the reference does, but over
        # already-reduced partials (Spark_MOPSO_Avg.scala:159-174).
        # Reduction runs over FIXED-SIZE row blocks (re-chunked from the
        # incoming Arrow batches, _REDUCE_BLOCK_ROWS rows each), partials
        # added in block order: the float-summation grouping is a pure
        # function of (row order, constant block size) — independent of
        # spark.sql.execution.arrow.maxRecordsPerBatch — so with a
        # deterministic layout (hash repartition + sortWithinPartitions)
        # the fitness, and hence the whole seeded PSO trajectory, stays
        # bit-reproducible across session configs, while peak kernel
        # memory is O(block × packed width) even when the caller's layout
        # makes a partition arbitrarily large (partition_by_label with a
        # hot label — layout is semantics there, the engine can't resize
        # it; previously the whole partition was concatenated first).
        acc_dev = np.zeros(s)
        acc_conn = np.zeros(s)
        acc_n = 0
        for pdf in _fixed_blocks(batches, _REDUCE_BLOCK_ROWS):
            col = pdf["self_nbr_flat"]
            # raw float64 bytes: one frombuffer per block, zero per-row
            # object churn
            packed = np.frombuffer(b"".join(col), dtype=np.float64).reshape(len(col), -1)
            n = packed.shape[0]
            l_tot = packed.shape[1] // d_ - 1  # = L (uniform padding)
            nbr_n = pdf["nbr_n"].to_numpy()
            stacked = packed.reshape(n * (1 + l_tot), d_)
            dists = _distances(stacked, flat).reshape(n, 1 + l_tot, s, k)
            clusters = dists.argmin(axis=3)  # (n, 1+l, s)
            pt_cl = clusters[:, 0, :]  # (n, s)
            nb_cl = clusters[:, 1:, :]  # (n, l, s)
            pt_dist = np.take_along_axis(
                dists[:, 0, :, :], pt_cl[:, :, None], axis=2
            )[:, :, 0]
            acc_dev += pt_dist.sum(axis=0)
            # weights: 1/rank for real neighbors, 0 for the self-padding
            ranks = np.arange(1, l_tot + 1, dtype=np.float64)[None, :]
            wts = np.where(ranks <= nbr_n[:, None], 1.0 / ranks, 0.0)  # (n, l)
            same = nb_cl == pt_cl[:, None, :]  # (n, l, s)
            acc_conn += (same * wts[:, :, None]).sum(axis=(0, 1))
            acc_n += n
        if acc_n:
            yield pd.DataFrame(
                {
                    "solution": np.arange(s, dtype=np.int32),
                    "dev_p": acc_dev,
                    "conn_p": acc_conn,
                    "n_p": np.full(s, acc_n, dtype=np.int64),
                }
            )

    rows = (
        nbr_df.select("self_nbr_flat", "nbr_n")
        .mapInPandas(kernel, schema=_FITNESS_PARTIAL_SCHEMA)
        .collect()
    )
    out = np.zeros((s, 2), dtype=np.float64)
    if partition_weighted:
        if not n_total:
            raise ValueError("partition_weighted requires n_total")
        for r in rows:
            w = r["n_p"] / float(n_total)
            out[r["solution"], 0] += w * r["dev_p"]
            out[r["solution"], 1] += w * r["conn_p"]
    else:
        for r in rows:
            out[r["solution"], 0] += r["dev_p"]
            out[r["solution"], 1] += r["conn_p"]
    return out


def dev_of(assigned: DataFrame) -> float:
    """Dev as a one-line aggregate over an assignment table (A4)."""
    return assigned.agg(F.sum("dist").alias("dev")).collect()[0]["dev"]


def conn_df(pairs: DataFrame, assigned: DataFrame) -> DataFrame:
    """Conn as a relational plan (A5): join the (solution-independent) kNN
    pair table with cluster assignments of both endpoints; same-cluster
    neighbors contribute 1/rank. Returns a 1-row DataFrame(conn double)."""
    a = assigned.select(F.col("id"), F.col("cluster").alias("c_i"))
    b = assigned.select(F.col("id").alias("nbr_id"), F.col("cluster").alias("c_j"))
    return (
        pairs.join(a, "id")
        .join(b, "nbr_id")
        .agg(
            F.sum(
                F.when(F.col("c_i") == F.col("c_j"), 1.0 / F.col("rank")).otherwise(0.0)
            ).alias("conn")
        )
    )
