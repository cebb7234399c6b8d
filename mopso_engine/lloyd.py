"""Distributed hand-rolled Lloyd's k-means (SURVEY §2.11 M3).

The reference implements Lloyd's only single-node (``SingleKmeans``,
MOPSO_Single.scala:1236-1375: random distinct init :1242-1269, the
assign/update loop :1272-1305 with empty clusters keeping their old
center, SSE cost :1330-1345, convergence on |cost delta| < 1e-10
:1239,1300). This module is the distributed twin, and it fixes the two
things that make naive distributed Lloyd's non-reproducible:

* **Integer-grid arithmetic.** Points are quantized ONCE onto a
  2^-k grid (a count-derived, overflow-proof scale,
  :func:`derive_scale_log2`), after which assignment distances, per-cluster sums,
  center updates (``floor(Σq/n + 0.5)`` — exact float64 on <2^53 ints)
  and the SSE are all EXACT int64 arithmetic: bit-identical under any
  partitioning, any combine order, and any engine. That is what lets an
  ITERATIVE algorithm carry a full value-match SQL oracle (the driver
  gate) instead of the usual rows-only waiver — and at 100 TB it means
  reruns and speculative retries cannot produce divergent models.
* **Seeded, partition-invariant init.** The reference's unseeded
  ``Random.nextInt`` draw of k distinct rows becomes the k rows with the
  smallest ``md5(id ∥ '#lloyd<seed>')`` prefix (the engine's standard
  cross-engine hash idiom, see :func:`hash_uniform`) — a
  deterministic "random" distinct draw reproducible from SQL.

Physical shape per iteration: ONE Arrow-kernel linear scan emitting a
packed ``k·(2+d)`` int64 partial per batch (assignment + per-cluster
count/SSE/sum in a single pass), one tiny posexplode+groupBy reduce of
those partials, and a driver-side center update — the one-job-per-
iteration driver-loop design SURVEY §3.4 prescribes for the MOPSO fit.
Nothing shuffles O(n) rows; the shuffle is O(batches · k·(2+d)) cells.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from mopso_engine.worker import prepare

#: hard bounds of the derived RELATIVE grid resolution r = k + x_bound_log2
#: (grid steps per unit of data magnitude, 2^r): 2²² keeps the gate's
#: quantization error ≲1e-6·|x| on small corpora; 2¹³ is the floor below
#: which the relative error (~2^-r) stops being meaningfully tighter than
#: typical float noise — corpora too big for 2¹³ (> ~2³⁵ rows) need an
#: int128/decimal combine, and derive_scale_log2 fails loudly there. The
#: bounds are RELATIVE (not on k alone) so large-magnitude features —
#: e.g. raw lineitem prices, |x| ≲ 2¹⁷ — get a coarser ABSOLUTE grid of
#: identical relative precision instead of a spurious overflow error.
_RES_LOG2_MAX = 22
_RES_LOG2_MIN = 13


def derive_scale_log2(n: int, x_bound_log2: int = 0) -> int:
    """Largest quantization exponent k (possibly negative — scale is
    ``2.0**k``) such that the int64 sufficient statistics CANNOT
    overflow: with ``|x| ≤ 2^x_bound_log2`` the quantized
    ``|q| ≤ 2^(k + x_bound_log2)``, so the worst total
    ``Σq² ≤ n · 2^(2k + 2·x_bound_log2)``; requiring that to stay ≤ 2⁶¹
    leaves 4× headroom under int64. Pure integer arithmetic
    (``ceil_log2`` via bit_length) so an SQL oracle derives the SAME k
    from the same row count with exact comparisons — no float log2 at a
    power-of-two boundary (a fixed 2²² default wrapped silently past
    ~2¹⁹ rows)."""
    if n < 1:
        raise ValueError("derive_scale_log2 needs n >= 1")
    ceil_log2_n = (n - 1).bit_length()
    k = (61 - ceil_log2_n) // 2 - x_bound_log2
    k = min(_RES_LOG2_MAX - x_bound_log2, k)
    if k + x_bound_log2 < _RES_LOG2_MIN:
        raise ValueError(
            f"n={n} rows leave fewer than 2^{_RES_LOG2_MIN} grid steps of relative "
            "resolution in int64 sufficient statistics — switch the combine to "
            "decimal(38,0) for corpora this large"
        )
    return k


#: scale of the 32-bit md5 prefix → uniform [0, 1)
_HASH_SPACE = float(1 << 32)


def hash_uniform(key: Column | str, *, salt: str = "s0") -> Column:
    """Deterministic per-row uniform in [0, 1) from md5(key ∥ salt)."""
    h = F.conv(F.substring(F.md5(F.concat_ws("#", key, F.lit(salt))), 1, 8), 16, 10)
    return h.cast("double") / F.lit(_HASH_SPACE)


_PARTIAL_SCHEMA_Q = StructType([StructField("p", ArrayType(LongType(), False), False)])


def _bound_and_count(points: DataFrame, feat_col: str) -> tuple[float, int]:
    """max|x| and row count in ONE columnar scan (order-free exact
    aggregates)."""
    row_max = F.aggregate(
        feat_col, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    r = points.select(F.max(row_max).alias("m"), F.count(F.lit(1)).alias("n")).collect()[0]
    return r["m"], r["n"]


def _exponent_of(m: float) -> int:
    """Smallest integer e with m ≤ 2^e — exact power-of-two comparisons
    (no float log2 at a boundary; an SQL twin derives the identical e
    from the same max)."""
    if m is None:
        raise ValueError("x_bound_log2: empty input")
    if not np.isfinite(m):
        raise ValueError("x_bound_log2: non-finite feature value")
    for e in range(-20, 21):
        if m <= 2.0**e:
            return e
    raise ValueError(f"x_bound_log2: |x|={m} out of supported range (<= 2^20)")


def x_bound_log2(points: DataFrame, feat_col: str = "features") -> int:
    """Smallest integer e with max|x| ≤ 2^e over the whole corpus."""
    m, _ = _bound_and_count(points, feat_col)
    return _exponent_of(m)


@dataclass
class LloydResult:
    centers_q: np.ndarray  #: (k, d) int64 — centers on the quantization grid
    n_per_cluster: np.ndarray  #: (k,) int64 — sizes of the LAST assignment
    sse: float  #: SSE of the last assignment, de-quantized (cost/scale²)
    sse_q: int  #: exact integer SSE on the grid
    scale_log2: int
    iters_run: int
    converged: bool
    history: list = field(default_factory=list)

    @property
    def centers(self) -> np.ndarray:
        """Float centers (grid coordinates / scale)."""
        return self.centers_q.astype(np.float64) / 2.0**self.scale_log2


def _iteration_stats(
    points: DataFrame,
    centers_q: np.ndarray,
    scale: float,
    feat_col: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One distributed pass under the CURRENT quantized centers: returns
    (n per cluster, exact int SSE per cluster, Σq per cluster×dim).
    Assignment ties resolve to the lowest cluster index — the reference's
    reduceLeft first-wins (MOPSO_Single.scala:1323-1327) and np.argmin
    agree on that rule."""
    k, d = centers_q.shape
    qc = centers_q.copy()

    def kernel(batches: Iterable[pd.DataFrame]):
        prepare()
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[feat_col].to_numpy())[:, :d].astype(np.float64)
            if not np.isfinite(x).all():
                raise ValueError("lloyd: non-finite feature value")
            q = np.floor(x * scale + 0.5).astype(np.int64)
            # (batch, k) exact integer squared distances
            diff = q[:, None, :] - qc[None, :, :]
            d2 = (diff * diff).sum(axis=2)
            assign = d2.argmin(axis=1)
            # vectorized per-cluster fold — int64 scatter-adds keep the
            # statistics EXACT (bincount's float weights would silently
            # round past 2^53), and nothing is O(k·batch)
            n_c = np.bincount(assign, minlength=k).astype(np.int64)
            sse_c = np.zeros(k, dtype=np.int64)
            np.add.at(sse_c, assign, d2[np.arange(len(q)), assign])
            sq_c = np.zeros((k, d), dtype=np.int64)
            np.add.at(sq_c, assign, q)
            packed = np.concatenate(
                [n_c[:, None], sse_c[:, None], sq_c], axis=1
            ).reshape(-1)
            yield pd.DataFrame({"p": [packed]})

    cells = (
        points.select(feat_col)
        .mapInPandas(kernel, schema=_PARTIAL_SCHEMA_Q)
        .select(F.posexplode("p").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    total = np.zeros(k * (2 + d), dtype=np.int64)
    for r in cells:
        total[r["idx"]] = r["s"]
    blocks = total.reshape(k, 2 + d)
    return blocks[:, 0].copy(), blocks[:, 1].copy(), blocks[:, 2:].copy()


def lloyd_fit(
    points: DataFrame,
    k: int,
    *,
    seed: int = 11,
    iters: int = 3,
    tol: float | None = None,
    max_iters: int = 50,
    id_col: str = "id",
    feat_col: str = "features",
) -> LloydResult:
    """Distributed integer-grid Lloyd's.

    ``tol=None`` runs exactly ``iters`` assignment+update passes (the
    SQL-oracle-able mode). ``tol`` set reproduces the reference's
    convergence rule — stop when the SSE delta (de-quantized) drops
    below it (``shold=1e-10``, MOPSO_Single.scala:1239) — capped at
    ``max_iters`` (the reference loops unboundedly).
    """
    m, n = _bound_and_count(points, feat_col)  # one scan for both
    if n < k:
        raise ValueError(f"lloyd_fit: n={n} < k={k}")
    e = _exponent_of(m)

    # seeded distinct init: k rows with the smallest hash prefix (also
    # tells us d, which the scale derivation below needs)
    init_rows = (
        points.select(id_col, feat_col, hash_uniform(id_col, salt=f"lloyd{seed}").alias("u"))
        .orderBy("u", id_col)
        .limit(k)
        .collect()
    )
    x0 = np.stack([np.asarray(r[feat_col], dtype=np.float64) for r in init_rows])
    d = x0.shape[1]

    # +1 headroom: worst-case (q - qc)² is 4× a point's own q² bound.
    # The SSE partial sums (q - qc)² over ALL d dims per point, so the
    # envelope must bound n·d squared terms, not n (with n alone, a
    # d=64 corpus could overflow int64 by up to 2^6 silently).
    scale_log2 = derive_scale_log2(n * d, e + 1)
    # possibly NEGATIVE for large-magnitude features (raw prices etc.):
    # a coarser absolute grid with the same relative precision
    scale = 2.0**scale_log2
    centers_q = np.floor(x0 * scale + 0.5).astype(np.int64)

    history: list[dict] = []
    prev_sse_q: int | None = None
    n_c = np.zeros(k, dtype=np.int64)
    sse_q = 0
    rounds = iters if tol is None else max_iters
    ran = 0
    converged = False
    for it in range(rounds):
        n_c, sse_c, sq = _iteration_stats(points, centers_q, scale, feat_col)
        sse_q = int(sse_c.sum())
        history.append({"iter": it, "sse": sse_q / (scale * scale)})
        # mean on the grid; EMPTY clusters keep their old center
        # (MOPSO_Single.scala:1290 case None => oldCenter)
        with np.errstate(divide="ignore", invalid="ignore"):
            new_q = np.floor(sq.astype(np.float64) / n_c[:, None] + 0.5)
        keep = n_c == 0
        new_q[keep] = centers_q[keep]
        centers_q = new_q.astype(np.int64)
        ran = it + 1
        if tol is not None and prev_sse_q is not None:
            if abs(prev_sse_q - sse_q) / (scale * scale) < tol:
                converged = True
                break
        prev_sse_q = sse_q

    return LloydResult(
        centers_q=centers_q,
        n_per_cluster=np.asarray(n_c, dtype=np.int64),
        sse=sse_q / (scale * scale),
        sse_q=sse_q,
        scale_log2=scale_log2,
        iters_run=ran,
        converged=converged,
        history=history,
    )


def lloyd_summary_df(points: DataFrame, k: int, **kw) -> DataFrame:
    """Relational rendering of :func:`lloyd_fit` for the driver gate:
    one row per (cluster, dim) with the final grid center coordinate and
    the last assignment's cluster size — all int64, hash-stable."""
    res = lloyd_fit(points, k, **kw)
    spark = points.sparkSession
    rows = [
        (int(c), int(dim), int(res.n_per_cluster[c]), int(res.centers_q[c, dim]))
        for c in range(res.centers_q.shape[0])
        for dim in range(res.centers_q.shape[1])
    ]
    return spark.createDataFrame(
        rows, "cluster int, dim int, n bigint, qc bigint"
    )
