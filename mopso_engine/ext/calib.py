"""Isotonic (monotone) calibration — pool-adjacent-violators over a
bounded bucket grid.

The classic serving-stack step: a raw score (bid value, model logit,
quality heuristic) is bucketed, each bucket's empirical positive rate is
measured, and PAVA replaces the noisy per-bucket rates with the closest
NON-DECREASING step function (the L2 isotonic projection) — the
calibration map applied before thresholding.

Engine-exactness contract (the repo's BM25/DSIR treatment): the heavy
part — the (bucket, n, positives) table — is ONE map-side-combined
aggregate in each engine; PAVA itself runs ONCE, driver-side, in this
module's pure-integer python (pool comparisons by cross-multiplication,
pooled rates quantized to micro-units with round-half-up — no float
anywhere), and the fitted step function is injected into BOTH engines as
literals. Neither engine ever computes a division the other must match.

PAVA state is bounded by the bucket-grid size, never the event count, so
"collect the bucket table" is a constant-size driver step at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: micro-unit scale for quantized rates
_UNIT = 1_000_000

#: SHARED tiny-table unpersist registry (neutral name — VERDICT r15 #5):
#: persisted KB-scale tables retained so ONE shuffle can feed both a
#: driver-side fit collect and the output join (the isotonic/WoE
#: sharing shape). Contract: any module may append; the RUNNER clears
#: between queries (tools/check_oracle.py calls
#: :func:`clear_calib_caches` after each query completes), so appenders
#: must consume their entry within the query that created it — an
#: operator whose OUTPUT plan still reads a registered table after the
#: clear would silently recompute its lineage (the hazard ADVICE r15
#: flagged; removal_effect_attribution now emits literals instead).
_SHARED_TINY_CACHES: list[DataFrame] = []

#: backward-compat alias (the original, calib-only name)
_CALIB_CACHES = _SHARED_TINY_CACHES


def clear_calib_caches() -> int:
    """Unpersist every table in the shared registry (calib's own bucket
    tables and any other module's appended tiny tables)."""
    n = 0
    while _SHARED_TINY_CACHES:
        df = _SHARED_TINY_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass
        n += 1
    return n


#: neutral-name alias for the clear hook
clear_shared_tiny_caches = clear_calib_caches


def rate_micro(pos: int, n: int) -> int:
    """round_half_up(pos/n · 1e6) in pure integers: (2·pos·U + n) div 2n."""
    if n <= 0:
        raise ValueError(f"rate_micro: n must be positive, got {n}")
    return (2 * pos * _UNIT + n) // (2 * n)


def pava_fit(rows: list[tuple[int, int, int]]) -> dict[int, int]:
    """Pool-adjacent-violators in exact integer arithmetic.

    ``rows``: (bucket, n, positives) — any order, buckets distinct,
    n >= 1, 0 <= positives <= n. Returns {bucket: iso_rate_micro}, the
    non-decreasing-in-bucket step function. A pool violates when the
    previous pool's rate exceeds the next's — compared by
    cross-multiplication (p_prev·n_next > p_next·n_prev), never a float
    division; merged pools keep exact integer (n, positives) sums and
    only the FINAL pooled rate is micro-quantized.
    """
    seen = set()
    for b, n, p in rows:
        if b in seen:
            raise ValueError(f"pava_fit: duplicate bucket {b}")
        seen.add(b)
        if n < 1 or p < 0 or p > n:
            raise ValueError(f"pava_fit: bad bucket row ({b}, {n}, {p})")
    pools: list[list] = []  # [n, pos, [buckets]]
    for b, n, p in sorted(rows):
        pools.append([n, p, [b]])
        while (
            len(pools) >= 2
            and pools[-2][1] * pools[-1][0] > pools[-1][1] * pools[-2][0]
        ):
            n2, p2, bs2 = pools.pop()
            pools[-1][0] += n2
            pools[-1][1] += p2
            pools[-1][2].extend(bs2)
    out: dict[int, int] = {}
    for n, p, bs in pools:
        m = rate_micro(p, n)
        for b in bs:
            out[b] = m
    return out


def woe_iv_fit(rows: list[tuple[object, int, int]]) -> dict[object, tuple[int, int]]:
    """Weight-of-Evidence / Information-Value fit in the driver-pinned
    style of :func:`pava_fit` — the categorical-encoding readout credit
    scoring and feature selection run before model training.

    ``rows``: (category, n, positives) — categories distinct, n >= 1,
    0 <= positives <= n. Returns {category: (woe_micro, iv_micro)}:

    * ``woe = ln(dist_pos / dist_neg)`` where dist_pos = p/P and
      dist_neg = (n−p)/N over the fitted totals — computed ONCE here
      (the only ln anywhere; both engines receive the result as
      literals, so no libm ever has to agree cross-engine) and
      quantized to micro-nats with floor(x·1e6 + 0.5).
    * ``iv_micro`` = the category's IV contribution
      (dist_pos − dist_neg)·woe, derived from the ALREADY-quantized
      woe_micro in exact integer arithmetic:
      round_half_up((p·N − (n−p)·P)·woe_micro / (P·N)) via the house
      (2a + b) div 2b fold — so iv is a pure function of integers and
      bit-stable wherever woe_micro is.

    A category with zero positives or zero negatives has infinite WoE —
    that's a data problem (apply smoothing upstream), so it raises
    rather than silently clipping.
    """
    import math

    seen = set()
    for c, n, p in rows:
        if c in seen:
            raise ValueError(f"woe_iv_fit: duplicate category {c!r}")
        seen.add(c)
        if n < 1 or p < 0 or p > n:
            raise ValueError(f"woe_iv_fit: bad row ({c!r}, {n}, {p})")
    P = sum(p for _, _, p in rows)
    N = sum(n - p for _, n, p in rows)
    if P == 0 or N == 0:
        raise ValueError("woe_iv_fit: corpus has a single class")
    out: dict[object, tuple[int, int]] = {}
    for c, n, p in rows:
        q = n - p
        if p == 0 or q == 0:
            raise ValueError(
                f"woe_iv_fit: category {c!r} has a zero class (p={p}, neg={q}) "
                "— infinite WoE; smooth upstream"
            )
        woe_micro = math.floor(math.log((p * N) / (q * P)) * _UNIT + 0.5)
        num = (p * N - q * P) * woe_micro
        den = P * N
        iv_micro = (2 * num + den) // (2 * den)
        out[c] = (woe_micro, iv_micro)
    return out


def woe_iv_encode(
    df: DataFrame,
    category_col: str,
    label_col: str,
) -> DataFrame:
    """Distributed category aggregation + driver-side WoE/IV fit +
    literal re-join — the same movement as :func:`isotonic_calibrate`:
    ONE map-side-combined (category, n, positives) aggregate is
    persisted and feeds BOTH the collect (bounded by category
    cardinality) and the output join; the ln runs once in
    :func:`woe_iv_fit` and re-enters both engines as literals. Returns
    one row per category: (category, n, pos, woe_micro, iv_micro).
    """
    agg = (
        df.groupBy(F.col(category_col).alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("long")).alias("pos"),
        )
        .persist()
    )
    _SHARED_TINY_CACHES.append(agg)
    rows = [(r["category"], int(r["n"]), int(r["pos"])) for r in agg.collect()]
    fit = woe_iv_fit(rows)
    spark = df.sparkSession
    lit = spark.createDataFrame(
        sorted((c, w, i) for c, (w, i) in fit.items()),
        "category string, woe_micro long, iv_micro long",
    )
    return agg.join(F.broadcast(lit), "category").select(
        "category", "n", "pos", "woe_micro", "iv_micro"
    )


def isotonic_calibrate(
    df: DataFrame,
    bucket_col: str,
    label_col: str,
) -> DataFrame:
    """Distributed bucket aggregation + driver-side PAVA + literal
    re-join: the full calibration readout.

    ``bucket_col`` must be an integral score bucket (bounded grid —
    that bound is what makes the driver step constant-size);
    ``label_col`` an int 0/1 outcome. Returns one row per bucket:
    (bucket, n, positives, raw_micro, iso_micro) with iso_micro
    non-decreasing in bucket. raw_micro is the same integer
    round-half-up both engines compute; iso_micro comes from the ONE
    shared python PAVA, broadcast back as literals.
    """
    agg = (
        df.groupBy(F.col(bucket_col).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("long")).alias("positives"),
        )
        .persist()
    )
    _SHARED_TINY_CACHES.append(agg)  # ONE events shuffle feeds fit AND output
    rows = [(r["bucket"], r["n"], r["positives"]) for r in agg.collect()]
    fit = pava_fit(rows)
    spark = df.sparkSession
    lit = spark.createDataFrame(
        sorted(fit.items()), "bucket long, iso_micro long"
    )
    return (
        agg.join(F.broadcast(lit), "bucket")
        .select(
            "bucket",
            "n",
            "positives",
            F.expr(f"(2 * positives * {_UNIT} + n) div (2 * n)").alias(
                "raw_micro"
            ),
            "iso_micro",
        )
    )
