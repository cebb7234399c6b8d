"""Distributed dense linear algebra over embedding columns.

The pattern here is the one that scales to 100 TB of vectors: map-side
PARTIAL sufficient statistics (one tiny row per Arrow batch), then a
shuffle of partials that is orders of magnitude smaller than the data,
then the closed-form combine. Nothing ever materializes an n×d matrix
on one node; nothing joins row-against-row.

Covers the classic pipeline needs: covariance / Gram matrix (whitening,
PCA preprocessing, embedding-drift monitoring). The d×d result is tiny
(64² = 4096 cells), so the post-shuffle stage is effectively free —
100% of the cost is one linear scan of the vectors.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from mopso_engine.lloyd import _RES_LOG2_MAX, derive_scale_log2

#: single packed partial per Arrow batch: [n, Σx (d cells), ΣxxT (d² cells,
#: row-major)]. ONE array column means the whole reduce is ONE
#: posexplode+groupBy over (1+d+d²)·n_batches tiny rows — the vector scan
#: runs exactly once, with no persist and no repeated subtree.
_PARTIAL_SCHEMA = StructType([StructField("p", ArrayType(DoubleType(), False), False)])

#: integer twin of _PARTIAL_SCHEMA (quantized partials, see
#: gram_partials_quantized)
_PARTIAL_SCHEMA_Q = StructType([StructField("p", ArrayType(LongType(), False), False)])


def gram_partials(emb: DataFrame, dims: int, col: str = "embedding") -> DataFrame:
    """One packed row per Arrow batch (see module note). float64
    accumulation regardless of the input's float32 storage, so combine
    orders agree to ≪1e-9 — but NOT bit-identically: a downstream
    round(…, N) can land on a half-boundary and flip with the shuffle
    arrival order (observed: the r03 driver red row on emb_covariance).
    Gate values through :func:`embedding_covariance_gated` (exact
    integer statistics), never through rounded floats of this path.
    The BLAS ``x.T @ x`` per batch is the one place Python beats the
    JVM here — there is no codegen dgemm."""

    def kernel(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[col].to_numpy())[:, :dims].astype(np.float64)
            packed = np.concatenate(([float(x.shape[0])], x.sum(axis=0), (x.T @ x).ravel()))
            yield pd.DataFrame({"p": [packed]})

    return emb.select(col).mapInPandas(kernel, schema=_PARTIAL_SCHEMA)


def derive_combine_plan(n: int, x_bound_log2: int = 0) -> tuple[int, str]:
    """(scale_log2, combine) for EXACT sufficient statistics at any
    corpus size: ``int64`` while the count-derived scale keeps ≥ 2¹³
    relative grid steps (:func:`derive_scale_log2`, n ≲ 2³⁵ rows), else
    the ``decimal(38,0)`` ESCALATION at the full 2²² relative resolution
    — per-emit partials stay int64-safe through the kernel's row
    chunking (≤ 2¹⁵ rows · 2⁴⁴ per squared term ≤ 2⁵⁹), and the global
    combine gets 38 decimal digits ≈ 2¹²⁶ of headroom (exhausted only
    past ~10²⁴ rows). Both regimes are exact and combine-order-proof;
    decimal just trades JVM combine speed for unbounded n."""
    try:
        return derive_scale_log2(n, x_bound_log2), "int64"
    except ValueError:
        if n < 1:
            raise
        return _RES_LOG2_MAX - x_bound_log2, "decimal"


#: rows per emitted partial inside the quantized kernel: 2^15 rows of
#: |q| ≤ 2^22 keep every per-emit cell ≤ 2^15·2^44 = 2^59 < 2^61, so the
#: int64 safety of a SINGLE partial never depends on the corpus size —
#: only the global combine does (int64 via count-derived scale, or the
#: decimal(38,0) escalation; see derive_combine_plan)
_CHUNK_ROWS = 1 << 15


def gram_partials_quantized(
    emb: DataFrame,
    dims: int,
    col: str = "embedding",
    scale: int = 1 << 22,
    x_bound: float = 1.0,
    chunk_rows: int = _CHUNK_ROWS,
) -> DataFrame:
    """Integer twin of :func:`gram_partials`: each value is quantized to
    ``q = floor(x·scale + 0.5)`` (an exact float64 op on the float32
    input, identical in numpy / Spark / DuckDB — power-of-two scaling is
    exact, the +0.5 add rounds identically under IEEE754), then the
    partial sums Σq and Σqqᵀ are EXACT int64 arithmetic — associative
    and commutative, so ANY combine order (shuffle arrival, batch split,
    engine) yields bit-identical totals. This is the determinism recipe
    the float path cannot have: float partial sums land within a ulp of
    a round(…, 6) half-boundary in some environments (the r03 driver
    red row).

    Overflow discipline: pass a ``scale`` from :func:`derive_scale_log2`
    (as :func:`embedding_covariance_gated` does) so the total is
    guaranteed ≤ 2⁶¹; the kernel enforces the derivation's ``|x| ≤
    x_bound`` premise and finiteness per batch, raising loudly instead
    of silently poisoning the statistics (NaN→int64 casts are
    platform-dependent garbage)."""

    def kernel(batches: Iterable[pd.DataFrame]):
        s = float(scale)
        for pdf in batches:
            if not len(pdf):
                continue
            xb = np.stack(pdf[col].to_numpy())[:, :dims].astype(np.float64)
            if not np.isfinite(xb).all():
                raise ValueError(
                    f"gram_partials_quantized: non-finite value in {col!r} — "
                    "quantization would emit platform-dependent int64 garbage"
                )
            amax = float(np.abs(xb).max(initial=0.0))
            if amax > x_bound:
                raise ValueError(
                    f"gram_partials_quantized: |x|={amax} exceeds x_bound={x_bound}; "
                    "the int64 overflow guarantee assumes this bound — raise x_bound "
                    "and re-derive the scale"
                )
            # chunked emits: each partial's cells are int64-safe regardless
            # of Arrow batch sizing or corpus size (see _CHUNK_ROWS)
            for lo in range(0, len(xb), chunk_rows):
                q = np.floor(xb[lo : lo + chunk_rows] * s + 0.5).astype(np.int64)
                packed = np.concatenate(
                    ([np.int64(q.shape[0])], q.sum(axis=0), (q.T @ q).ravel())
                ).astype(np.int64)
                yield pd.DataFrame({"p": [packed]})

    return emb.select(col).mapInPandas(kernel, schema=_PARTIAL_SCHEMA_Q)


def embedding_covariance_gated(
    emb: DataFrame,
    dims: int,
    col: str = "embedding",
    scale: int | None = None,
    band: float | None = None,
    combine: str = "auto",
) -> DataFrame:
    """The VALUE-GATE rendering of :func:`embedding_covariance` (the
    sketch pattern, not the rounded-float pattern): emits the EXACT
    integer sufficient statistics (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ — hash-identical
    in every engine and under every partitioning, see
    gram_partials_quantized) plus ``cov_ok`` asserting the real float
    operator's covariance sits within ``band`` of the integer-derived
    value.

    ``scale`` defaults to the OVERFLOW-SAFE derivation from the corpus
    row count (:func:`derive_combine_plan` — costs one extra count job
    per call, metadata-cheap on parquet sources; an SQL oracle
    re-derives the identical value from ``count(*)``). ``combine`` is
    ``'auto'`` (int64 while the count-derived scale is representable,
    else the exact ``decimal(38,0)`` escalation — n ≳ 2³⁵ rows keeps
    full 2²² relative resolution instead of erroring), or ``'int64'`` /
    ``'decimal'`` to force a regime; in the decimal regime the statistic
    columns (n, sx_i, sx_j, sxx) come back as decimal(38,0). ``band``
    defaults to ``max(1e-4, 8/scale)`` — ≥2.5× margin over the ≲3/scale
    quantization error at any derived scale, still failing on any
    genuine formula/combine bug. Missing statistics (empty input) yield
    ``cov_ok = false``, not NULL — three-valued logic must not let an
    indeterminate gate pass, and an EMPTY corpus with the default scale
    fails closed the same way instead of erroring in the derivation.
    Output: (i, j, n, sx_i, sx_j, sxx, cov_ok), upper triangle i ≤ j,
    0-based."""
    d = dims
    if scale is None:
        n_rows = emb.count()
        if n_rows == 0:
            # fail-closed: no statistics → every gate row reads cov_ok=false
            scale = 1 << _RES_LOG2_MAX
        else:
            k, derived = derive_combine_plan(n_rows)
            scale = 1 << k
            if combine == "auto":
                combine = derived
    if combine == "auto":
        combine = "int64"
    if combine not in ("int64", "decimal"):
        raise ValueError(f"combine must be 'auto', 'int64' or 'decimal', got {combine!r}")
    if band is None:
        band = max(1e-4, 8.0 / scale)
    partial_v = F.col("v").cast("decimal(38,0)") if combine == "decimal" else F.col("v")
    cells = (
        gram_partials_quantized(emb, d, col, scale)
        .select(F.posexplode("p").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum(partial_v).alias("s"))
    )
    packed = cells.agg(F.map_from_entries(F.collect_list(F.struct("idx", "s"))).alias("m"))
    k = F.col("k")
    m = F.col("m")
    ints = (
        packed.select(F.explode(F.sequence(F.lit(0), F.lit(d * d - 1))).alias("k"), "m")
        .select(k, (k / d).cast("int").alias("i"), (k % d).alias("j"), m)
        .where(F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            m[F.lit(0)].alias("n"),
            m[F.col("i") + 1].alias("sx_i"),
            m[F.col("j") + 1].alias("sx_j"),
            m[k + 1 + d].alias("sxx"),
        )
    )
    s = float(scale)
    # explicit double casts: in the decimal regime a decimal/decimal
    # division would truncate to decimal fraction digits instead of
    # float64 (int64 longs already divided as double, unchanged)
    _n, _si, _sj, _sxx = (
        F.col(c).cast("double") for c in ("n", "sx_i", "sx_j", "sxx")
    )
    cov_q = _sxx / _n / (s * s) - (_si / _n / s) * (_sj / _n / s)
    fl = embedding_covariance(emb, d, col, round_dp=None).withColumnRenamed("cov", "cov_f")
    return (
        ints.join(F.broadcast(fl), ["i", "j"])
        .select(
            "i", "j", "n", "sx_i", "sx_j", "sxx",
            # coalesce: abs(NULL - x) <= band is NULL, and a NULL gate
            # must read as FAILED, not indeterminate-pass (ADVICE r4)
            F.coalesce(F.abs(F.col("cov_f") - cov_q) <= band, F.lit(False)).alias("cov_ok"),
        )
    )


def embedding_covariance(
    emb: DataFrame, dims: int, col: str = "embedding", round_dp: int | None = 6
) -> DataFrame:
    """Population covariance of the first ``dims`` dimensions:
    cov(i,j) = Σxᵢxⱼ/N − (Σxᵢ/N)(Σxⱼ/N), upper triangle (i ≤ j), 0-based
    (i, j, cov) rows.

    Physical shape: one linear mapInPandas scan emitting packed batch
    partials, ONE posexplode+groupBy(cell-index) over thousands of tiny
    partial cells (map-side combined), then broadcast-joined combines on
    the d-sized mean table. The alternative declarative rendering
    (posexplode² self-join) is O(n·d²) shuffled rows and is exactly what
    this shape avoids — at 100 TB the partial reduce is ~MBs.
    """
    d = dims
    # one LINEAR chain — no plan branches, so the expensive vector scan
    # provably runs once (a branched rendering with per-branch idx
    # filters loses ReusedExchange: Catalyst pushes the group-key filter
    # below the aggregate, making each branch's exchange distinct and
    # re-running the kernel per branch — measured, and pinned by
    # tests/test_linalg.py::test_covariance_single_scan_plan):
    #   partials → posexplode → groupBy(idx) [map-side combined, tiny]
    #   → pack the ≤1+d+d² summed cells into ONE map row
    #   → explode the d² (i,j) index space and look combines up in the map
    cells = (
        gram_partials(emb, d, col)
        .select(F.posexplode("p").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("s"))
    )
    packed = cells.agg(F.map_from_entries(F.collect_list(F.struct("idx", "s"))).alias("m"))
    k = F.col("k")
    m = F.col("m")
    cov_expr = m[k + 1 + d] / m[F.lit(0)] - (m[F.col("i") + 1] / m[F.lit(0)]) * (
        m[F.col("j") + 1] / m[F.lit(0)]
    )
    return (
        packed.select(F.explode(F.sequence(F.lit(0), F.lit(d * d - 1))).alias("k"), "m")
        .select(k, (k / d).cast("int").alias("i"), (k % d).alias("j"), m)
        .where(F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            (
                F.round(cov_expr, round_dp) if round_dp is not None else cov_expr
            ).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# PCA: sample-trained model, map-only distributed projection
# ---------------------------------------------------------------------------

def _pca_fit_exact(x: np.ndarray, n_components: int):
    """Deterministic PCA fit of a ROW-SORTED sample matrix: numpy-exact
    mean/covariance + eigh, descending eigenvalue order, sign-normalized
    so each component's largest-|entry| coordinate is positive. Shared
    by the Spark trainer and the oracle twin — same input rows (sorted
    by id) ⇒ bit-identical model."""
    x = np.asarray(x, dtype=np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / len(x)
    w, v = np.linalg.eigh(cov)
    comps = v[:, ::-1][:, :n_components].T.copy()  # (m, d), desc eigenvalue
    for c in comps:
        if c[int(np.argmax(np.abs(c)))] < 0:
            c *= -1.0
    return mean, comps


def train_pca(
    emb: DataFrame,
    dims: int,
    n_components: int = 2,
    *,
    sample_fraction: float = 0.5,
    salt: str = "pca",
    col: str = "embedding",
    max_sample_rows: int = 200_000,
):
    """Sample-trained PCA — the FAISS-style ``train()`` split: a
    deterministic md5-threshold sample (replayable on any cluster
    layout) is collected and fit EXACTLY on the driver; only the sample
    crosses the wire, and the model is a tiny (mean, components)
    artifact that rides into the projection plan as a closure.
    The sample is sorted by vec_id before fitting so the numpy
    summation order — and therefore the model — is bit-reproducible
    (the oracle twin :func:`train_pca_local` replays it).

    ``sample_fraction`` is corpus-scale-dependent (0.5 fits the test
    fixtures; a 100 TB corpus wants ~1e-5): the driver collect is
    HARD-GUARDED at ``max_sample_rows`` and fails loudly rather than
    silently pulling a corpus to the driver — lower the fraction, or
    raise the cap if driver memory genuinely allows it."""
    from mopso_engine.ext.pipeline import hash_uniform

    samp = emb.where(hash_uniform("vec_id", salt=salt) < F.lit(sample_fraction)).select(
        "vec_id", col
    )
    n = samp.count()
    if n > max_sample_rows:
        raise ValueError(
            f"train_pca sample has {n} rows > max_sample_rows={max_sample_rows}: "
            f"lower sample_fraction (~{max_sample_rows / 2 / max(n / sample_fraction, 1):.2e} "
            "would target half the cap) instead of collecting a corpus to the driver"
        )
    rows = samp.orderBy("vec_id").collect()
    x = np.stack([np.asarray(r[col], dtype=np.float64)[:dims] for r in rows])
    return _pca_fit_exact(x, n_components)


def train_pca_local(
    parquet_path: str,
    dims: int,
    n_components: int = 2,
    *,
    sample_fraction: float = 0.5,
    salt: str = "pca",
    col: str = "embedding",
):
    """Oracle twin of :func:`train_pca`: same md5 predicate, same sort,
    same numpy fit, straight from the parquet file — bit-identical."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=["vec_id", col]).to_pydict()
    picked = [
        (i, v)
        for i, v in sorted(zip(t["vec_id"], t[col]))
        if int(hashlib.md5(f"{i}#{salt}".encode()).hexdigest()[:8], 16) / 2**32
        < sample_fraction
    ]
    x = np.stack([np.asarray(v, dtype=np.float64)[:dims] for _, v in picked])
    return _pca_fit_exact(x, n_components)


def pca_project(
    emb: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    *,
    col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Distributed PCA projection: (vec_id, comp, value) with
    value = x·cᵀ − (mean·cᵀ) — ONE map-only Arrow scan, no shuffle.
    The per-row accumulation is SEQUENTIAL OVER DIMS, so each value is
    bit-identical to the SQL twin's list_sum fold over the same literal
    components; the mean enters as a per-component scalar offset
    computed once (same numpy on both twins). 100 TB: nothing moves but
    the projected output; the model is O(m·d) closure bytes."""
    C = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    m, d = C.shape
    offsets = np.array([float(np.add.reduce(mu * C[c])) for c in range(m)])

    def kernel(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[col].to_numpy())[:, :d].astype(np.float64)
            n = x.shape[0]
            dots = np.zeros((n, m))
            for i in range(d):  # sequential over dims == the SQL fold
                dots += x[:, i : i + 1] * C[:, i][None, :]
            vals = dots - offsets[None, :]
            ids = np.repeat(pdf["vec_id"].to_numpy(), m)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "comp": np.tile(np.arange(m, dtype=np.int32), n),
                    "value": vals.ravel(),
                }
            )

    out = emb.select("vec_id", col).mapInPandas(
        kernel, schema="vec_id long, comp int, value double"
    )
    if round_dp is not None:
        out = out.withColumn("value", F.round("value", round_dp))
    return out


def rademacher_signs(out_dim: int, in_dim: int, salt: str = "rp") -> np.ndarray:
    """Deterministic ±1 Rademacher sign matrix (out_dim × in_dim):
    s[j,i] = +1 iff the first 8 hex chars of md5(f"{salt}_{j}_{i}") are
    even — derivable identically in any engine with an md5 function, so
    the projection "model" needs no stored artifact at all."""
    import hashlib

    s = np.empty((out_dim, in_dim), dtype=np.int64)
    for j in range(out_dim):
        for i in range(in_dim):
            h = int(hashlib.md5(f"{salt}_{j}_{i}".encode()).hexdigest()[:8], 16)
            s[j, i] = 1 if h % 2 == 0 else -1
    return s


def random_projection(
    embeddings: DataFrame,
    *,
    out_dim: int = 16,
    in_dim: int | None = None,
    salt: str = "rp",
    col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with Rademacher signs
    (Achlioptas 2003's database-friendly variant): project each vector
    onto ``out_dim`` ±1 hash-derived directions. With k = O(log n / ε²)
    output dims, pairwise distances survive within (1±ε) — the standard
    cheap pre-filter in front of exact re-ranking, and the index-build
    step when d is too fat to shuffle.

    Exactness: inputs quantize to integer micro-units FIRST
    (floor(v·1e6+0.5)), then the projection is an integer matmul against
    the ±1 matrix — order-free exact sums, so outputs hash-match the SQL
    replay bit-for-bit. Scaling by 1/(1e6·√k) is left to callers (a
    constant factor cannot change any downstream ranking).

    100 TB shape: the sign matrix derives from md5 on the fly (no model
    artifact, no join) and rides the Arrow kernel closure; the whole
    projection is ONE map-only scan; the (vec_id, j, out_micro) explode
    is codegen'd. ``in_dim`` is probed from one row when not given.

    Returns (vec_id, j, out_micro) — ``out_dim`` rows per vector.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(col), lambda x: x.cast("double")).alias("vec"),
    )
    if in_dim is None:
        probe = vecs.select(F.size("vec").alias("d")).limit(1).collect()
        if not probe:
            raise ValueError("cannot infer in_dim from an empty DataFrame")
        in_dim = int(probe[0]["d"])
    S = rademacher_signs(out_dim, in_dim, salt)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["vec"].to_numpy())
            Q = np.floor(V * 1e6 + 0.5).astype(np.int64)
            out = Q @ S.T  # exact int64, order-free
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "proj": list(out)}
            )

    projected = vecs.mapInPandas(kernel, "vec_id long, proj array<long>")
    return projected.select(
        "vec_id", F.posexplode("proj").alias("j", "out_micro")
    )


def centroid_separation_matrix(
    embeddings: DataFrame,
    *,
    label_col: str = "label",
    col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine between per-class embedding centroids — the
    separation report for an embedding space (two classes whose
    centroids nearly coincide cannot be told apart by any centroid-based
    retrieval/routing; this is the table that says WHICH pairs).

    Exactness: vectors micro-quantize per element, per-(class, dim)
    SUMS are exact order-free integers, and the cosine of the SUM
    vectors equals the cosine of the MEAN centroids (the 1/n scaling
    cancels), so no division happens until the final double cosine —
    computed from exact integer operands with an identical expression
    tree in both engines and rounded to 6dp. The pairwise products are
    computed in DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0) (HUGEINT in
    the oracle), so the only overflow bound is the per-(class, dim) SUM
    itself staying under 2⁶³ — ~9e12 unit-normed rows per class at
    micro scale; quantize coarser above that.

    Shape: one posexplode + ONE map-side-combined (class, dim) sum —
    the only corpus-scale shuffle, carrying classes×dims cells — then
    all-pairs on the TINY class table (classes², by construction).

    Returns (label_a, label_b, cos_6) with label_a < label_b.
    """
    q = F.expr(
        f"posexplode(transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)))"
    )
    sums = (
        embeddings.select(F.col(label_col).alias("lbl"), q.alias("dim", "qv"))
        .groupBy("lbl", "dim")
        .agg(F.sum("qv").alias("s"))
    )
    a = sums.select(
        F.col("lbl").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("lbl").alias("label_b"), "dim", F.col("s").alias("sb")
    )
    pair = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.col("sa").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")
            ).alias("dot"),
            F.sum(
                F.col("sa").cast("decimal(19,0)") * F.col("sa").cast("decimal(19,0)")
            ).alias("na2"),
            F.sum(
                F.col("sb").cast("decimal(19,0)") * F.col("sb").cast("decimal(19,0)")
            ).alias("nb2"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return pair.select(
        "label_a", "label_b", F.round(cos, 6).alias("cos_6")
    )
