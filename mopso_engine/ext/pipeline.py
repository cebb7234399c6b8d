"""Training-data pipeline primitives beyond the reference surface:
deterministic sampling and as-of joins (SURVEY north-star extensions).

Both are single-shuffle-or-less plans chosen for the 100 TB path:

* **hash sampling** — a map-only filter: u(row) = first 8 md5 hex chars
  of (key ∥ salt) scaled to [0, 1); keep u < fraction. Deterministic,
  replayable, join-stable (the same row always samples the same way),
  portable to any engine with md5 — the oracle computes the identical
  predicate. No sort, no shuffle, no sampleBy seed drift across retries.
* **as-of join** — "for each left event, the latest prior right event
  with the same key" via the union + ordered window trick: tag both
  sides, union, ONE hash-shuffle on the key, last(right-payload,
  ignorenulls) over rows-unbounded-preceding-to-1-preceding, keep left
  rows. Linear state, no range-explosion pair join, no per-row probe —
  the plan a stream-table point-in-time join compiles to at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mopso_engine.lloyd import hash_uniform


def sample_by_hash(
    df: DataFrame,
    key: str,
    fraction: float | dict[str, float],
    *,
    stratum: str | None = None,
    salt: str = "s0",
) -> DataFrame:
    """Deterministic (exact-replay) sample: keep rows with
    hash_uniform(key) < fraction. With ``stratum`` + a dict, each stratum
    gets its own rate (unlisted strata default to 0) — the standard
    per-source mixing knob of a training-data pipeline, as one map-only
    codegen'd filter."""
    u = hash_uniform(key, salt=salt)
    if isinstance(fraction, dict):
        if stratum is None:
            raise ValueError("a fraction dict requires a stratum column")
        expr = F.lit(0.0)
        for k, v in fraction.items():
            expr = F.when(F.col(stratum) == k, F.lit(float(v))).otherwise(expr)
        return df.where(u < expr)
    return df.where(u < F.lit(float(fraction)))


def weighted_sample_topk(
    df: DataFrame,
    key: str,
    weight: Column | str,
    k: int,
    *,
    salt: str = "w0",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row gets priority ``u^(1/w)`` for the
    deterministic per-row uniform u and its weight w > 0; the global
    top-k by priority is a weighted sample without replacement (each
    row's inclusion probability proportional to its weight, exactly the
    A-ES result). The third sampling knob next to
    :func:`sample_by_hash` (fixed rate) and :func:`quota_sample` (fixed
    size per stratum): fixed TOTAL size, importance-weighted — e.g.
    quality-weighted corpus selection under a document budget.

    Deterministic and replayable: u is the md5 hash uniform, ties break
    on the key, so the selected set is independent of partitioning and
    identical on every engine with md5 (the oracle replays it in SQL).
    Scale shape: ORDER BY priority LIMIT k compiles to
    TakeOrderedAndProject — every map task keeps a local k-row heap and
    only O(partitions·k) rows reach the single reducer; no global sort,
    no full shuffle. Appends a ``priority`` column (rounded to 6dp).
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    u = hash_uniform(key, salt=salt)
    pr = F.pow(u, F.lit(1.0) / w)
    return (
        df.withColumn("priority", F.round(pr, 6))
        .orderBy(pr.desc(), F.col(key).asc())
        .limit(int(k))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    time: str,
    payload: list[str],
    strict: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, the payload of the LATEST right row with the
    same ``key`` and right.time < left.time (≤ when ``strict=False``)
    — or, with ``direction="forward"``, the EARLIEST right row with
    right.time > left.time (≥ when ``strict=False``): the
    "next event after" primitive (next maintenance after a reading,
    next purchase after a click) that a naive range join explodes on.

    Union + ordered window rendering: one shuffle on ``key``, linear
    scan; right payloads travel as nullable columns filled by
    last(..., ignorenulls). The forward variant is the SAME plan with
    the time order reversed — the preceding-rows frame then holds the
    strictly-later rows, so both directions cost one exchange. Output:
    left columns + ``asof_<payload>`` columns (null when no prior —
    or, forward, no later — right row exists).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lcols = left.columns
    if key not in lcols or time not in lcols:
        raise ValueError(f"left side must carry the {key!r} and {time!r} columns")
    tagged_l = left.select(
        *[F.col(c) for c in lcols],
        F.lit(1).alias("__is_l"),
        *[F.lit(None).cast(right.schema[p].dataType).alias(f"__p_{p}") for p in payload],
    )
    tagged_r = right.select(
        F.col(key),
        F.col(time),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in (key, time)
        ],
        F.lit(0).alias("__is_l"),
        *[F.col(p).alias(f"__p_{p}") for p in payload],
    )
    u = tagged_l.unionByName(tagged_r)
    # right rows sort before left rows at equal timestamps iff strict:
    # a strictly-prior right row is visible, a simultaneous one is not.
    # Forward direction: reverse the time order — the preceding frame
    # then holds strictly-LATER rows; the is_l tie rule transfers
    # unchanged (at equal ts, left-first hides the simultaneous right
    # row exactly when strict).
    tcol = F.col(time).asc() if direction == "backward" else F.col(time).desc()
    order = [tcol, F.col("__is_l").asc() if not strict else F.col("__is_l").desc()]
    # deterministic winner among right rows tied on (key, time): without
    # this, last(..., ignorenulls) resolves the tie by partition arrival
    # order — engine- and layout-dependent. Payload columns asc/nulls-last
    # mirrors the oracle's `ASC NULLS LAST`; only right-right ties are
    # affected (left rows never tie with right rows — __is_l differs —
    # and left-left order is irrelevant to an ignorenulls scan).
    order += [F.col(f"__p_{p}").asc_nulls_last() for p in payload]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = u
    for p in payload:
        out = out.withColumn(f"asof_{p}", F.last(f"__p_{p}", ignorenulls=True).over(w))
    return out.where(F.col("__is_l") == 1).select(
        *lcols, *[F.col(f"asof_{p}") for p in payload]
    )


def merge_partial_aggs(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    *,
    sum_cols: list[str] | None = None,
    count_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental maintenance of a keyed aggregate snapshot: merge the
    BASE aggregate (the persisted rollup of everything already
    ingested) with the DELTA batch's aggregate of the SAME shape,
    producing exactly what a full recompute over base∪delta facts
    would — without rescanning the base FACTS. This is how a 100 TB
    warehouse keeps its rollups current: the nightly delta is the only
    fact scan; the merge moves two key-count-sized agg tables.

    Merge algebra per measure class: counts and sums add, mins take
    ``least``, maxes take ``greatest`` — the standard decomposable-
    aggregate laws, rendered as ONE unionByName + groupBy(keys) (a key
    present on only one side contributes its row unchanged; avg/
    quantiles are NOT mergeable from (key, avg) and are deliberately
    not offered — carry (sum, n) instead).

    Precondition (the snapshot contract): base and delta aggregate
    DISJOINT fact sets — re-merging an already-folded batch double
    counts, which is the caller's idempotence ledger to enforce (see
    the SCD2/incremental-dedup family for batch-id ledgers).
    """
    sum_cols = list(sum_cols or [])
    count_cols = list(count_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    measures = sum_cols + count_cols + min_cols + max_cols
    if not measures:
        raise ValueError("merge_partial_aggs: need at least one measure column")
    if set(measures) & set(keys):
        raise ValueError("merge_partial_aggs: keys and measures overlap")
    for side, df in (("base", base), ("delta", delta)):
        missing = [c for c in keys + measures if c not in df.columns]
        if missing:
            raise ValueError(f"merge_partial_aggs: {side} side lacks {missing}")
    u = base.select(keys + measures).unionByName(delta.select(keys + measures))
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + [F.sum(c).alias(c) for c in count_cols]
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return u.groupBy(*keys).agg(*aggs)


def resample_forward_fill(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step: str = "1 hour",
    id_col: str = "event_id",
    method: str = "locf",
) -> DataFrame:
    """Regular-grid resampling with forward fill — the time-series
    gap-fill every metrics/feature pipeline needs (and SQL engines call
    ``time_bucket`` + ``locf``): per key, a grid of ``step``-aligned
    timestamps spans [date_trunc(min ts), date_trunc(max ts)], and each
    grid point carries the LAST observed value at-or-before it plus that
    observation's timestamp (staleness is then ``grid_ts −
    last_obs_ts``, left to the caller so no float arithmetic enters the
    output). Grid points before a key's first observation emit NULLs.
    Output: (key, grid_ts, value_ff, last_obs_ts).

    Rendering is the repo's as-of shape (asof_join above): the grid is
    derived from a per-key min/max aggregate + one sequence() explode
    (map-only after a key-combined aggregate), unioned with the
    observations, and ONE ordered window per key forward-fills — grid
    rows sort AFTER observations at the same timestamp (<= semantics),
    and ties among simultaneous observations break by ``id_col``, so the
    fill is deterministic under any partitioning. Movement: one key
    Exchange shared by the aggregate and the window; nothing quadratic,
    no per-row probe join. ``step`` must parse as an INTERVAL literal
    (e.g. '1 hour', '15 minutes'); the grid density is the caller's
    memory lever at 100 TB.

    ``method='interpolate'`` returns the linear-interpolation variant
    instead: (key, grid_ts, value_li, prev_obs_ts, next_obs_ts) where
    value_li = v_prev + (v_next − v_prev)·(t − t_prev)/(t_next −
    t_prev) over EPOCH DOUBLES (Spark's timestamp→double cast and
    DuckDB's epoch() agree to the ULP, and the expression tree is
    written identically in both engines, so round(·, 6) is
    deterministic), NULL outside the key's [first, last] observation
    span — interpolation, never extrapolation. Same single-Exchange
    plan: the backward neighbor adds a second frame over the SAME
    sorted window, not a second shuffle.
    """
    if method not in ("locf", "interpolate"):
        raise ValueError("method must be 'locf' or 'interpolate'")
    trunc_unit = step.split()[-1].rstrip("s")  # '1 hour' -> 'hour'
    span = events.groupBy(key).agg(
        F.date_trunc(trunc_unit, F.min(ts_col)).alias("_t0"),
        F.date_trunc(trunc_unit, F.max(ts_col)).alias("_t1"),
    )
    grid = span.select(
        key,
        F.explode(
            F.sequence("_t0", "_t1", F.expr(f"INTERVAL {step}"))
        ).alias("grid_ts"),
    )
    obs = events.select(
        F.col(key),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_g"),
        F.col(id_col).alias("_tie"),
        F.col(value_col).alias("_v"),
    )
    g = grid.select(
        F.col(key),
        F.col("grid_ts").alias("_ts"),
        F.lit(1).alias("_g"),
        F.lit(None).cast(obs.schema["_tie"].dataType).alias("_tie"),
        F.lit(None).cast(obs.schema["_v"].dataType).alias("_v"),
    )
    u = obs.unionByName(g)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts").asc(), F.col("_g").asc(), F.col("_tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # a NULL-valued observation is no observation: both fills must skip
    # the same rows or value_ff and last_obs_ts would disagree
    obs_ts = F.when((F.col("_g") == 0) & F.col("_v").isNotNull(), F.col("_ts"))
    if method == "locf":
        filled = u.select(
            F.col(key),
            "_ts",
            "_g",
            F.last("_v", ignorenulls=True).over(w).alias("value_ff"),
            F.last(obs_ts, ignorenulls=True).over(w).alias("last_obs_ts"),
        )
        return filled.where(F.col("_g") == 1).select(
            F.col(key), F.col("_ts").alias("grid_ts"), "value_ff", "last_obs_ts"
        )
    # interpolate: the backward neighbor is "first non-null at-or-after
    # the current row" — an obs at exactly the grid instant sorts before
    # the grid row, so it lands on the prev side and the formula
    # degenerates to exactly v_prev (frac = 0). Spark evaluates a
    # (currentRow, unboundedFollowing) frame by RE-AGGREGATING the whole
    # remaining frame per row — O(rows²) per key (measured 3.0s vs the
    # locf twin's 0.6s on the same union). first-non-null over that
    # frame under the ascending sort is EXACTLY last-non-null over a
    # running (unboundedPreceding, currentRow) frame under the fully
    # REVERSED sort (asc_nulls_last reverses to desc_nulls_first; the
    # frame covers the identical row set and "last" walks toward the
    # same boundary), so the backward fill runs as a second O(rows)
    # running frame — one extra in-partition sort, no extra exchange,
    # bit-identical values.
    wb = (
        Window.partitionBy(key)
        .orderBy(
            F.col("_ts").desc(), F.col("_g").desc(), F.col("_tie").desc_nulls_first()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        F.col(key),
        "_ts",
        "_g",
        F.last("_v", ignorenulls=True).over(w).alias("_pv"),
        F.last(obs_ts, ignorenulls=True).over(w).alias("prev_obs_ts"),
        F.last("_v", ignorenulls=True).over(wb).alias("_nv"),
        F.last(obs_ts, ignorenulls=True).over(wb).alias("next_obs_ts"),
    ).where(F.col("_g") == 1)
    t = F.col("_ts").cast("double")
    pt = F.col("prev_obs_ts").cast("double")
    nt = F.col("next_obs_ts").cast("double")
    frac = (t - pt) / (nt - pt)
    li = F.when(
        F.col("prev_obs_ts").isNotNull() & F.col("next_obs_ts").isNotNull(),
        F.when(
            F.col("next_obs_ts") == F.col("prev_obs_ts"), F.col("_pv")
        ).otherwise(F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac),
    )
    return filled.select(
        F.col(key),
        F.col("_ts").alias("grid_ts"),
        F.round(li, 6).alias("value_li"),
        "prev_obs_ts",
        "next_obs_ts",
    )


def quota_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    quota: int,
    *,
    salt: str = "q0",
) -> DataFrame:
    """EXACT per-stratum quota sample: the ``quota`` rows of each stratum
    with the smallest deterministic hash — the fixed-size companion of
    :func:`sample_by_hash`'s fixed-rate mixing (a training-data pipeline
    wants both: "3% of src A" and "exactly 100k docs per language").

    Deterministic and replayable (same salt → same rows, any cluster
    layout). Scale shape: rank ≤ k over a window triggers Spark's
    WindowGroupLimit pushdown (Spark ≥3.5) — each map task pre-truncates
    its partition to its local top-k BEFORE the stratum shuffle, so what
    moves is O(partitions·k), not the corpus; the final per-stratum sort
    touches only the k·partitions survivors (plan-tested). Skewed or
    few-valued strata are therefore bounded by k, not by stratum size.
    """
    u = hash_uniform(key, salt=salt)
    w = Window.partitionBy(stratum).orderBy(u.asc(), F.col(key).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.lit(int(quota)))
        .drop("__rn")
    )


def proportional_quota_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    total_n: int,
    *,
    salt: str = "pq0",
) -> DataFrame:
    """EXACTLY ``total_n`` rows overall, allocated across strata by the
    largest-remainder (Hare) method — the third member of the sampling
    family: :func:`sample_by_hash` fixes a RATE, :func:`quota_sample`
    fixes a PER-STRATUM count, this fixes the TOTAL while keeping the
    mix proportional (the "exactly 500k docs, same source mix" ask).

    Allocation is pure integer arithmetic over the TINY stratum-count
    table: base = (N·n_s) div total, and the N − Σbase leftovers go to
    the largest remainders (ties → stratum asc). Largest-remainder
    never exceeds a stratum's population when N ≤ total (base+1 ≤ n_s
    whenever the remainder is positive); N > total raises in-plan.
    Selection within each stratum is the same deterministic smallest-
    md5-hash order as :func:`quota_sample`, so the sample is replayable
    on any layout. Movement: ONE stratum count aggregate (tiny) + the
    per-stratum WindowGroupLimit — quotas ride a broadcast.

    Returns the sampled rows + (``quota_src``, ``n_source``) columns.
    """
    n = int(total_n)
    counts = df.groupBy(stratum).agg(F.count(F.lit(1)).alias("n_source"))
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = (
        counts.withColumn("_total", F.sum("n_source").over(wtot))
        .withColumn(
            "_base",
            F.when(
                F.lit(n) > F.col("_total"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"proportional_quota_sample: total_n={n} exceeds "
                            "population "
                        ),
                        F.col("_total").cast("string"),
                    )
                ),
            ).otherwise(F.expr(f"CAST({n} AS BIGINT) * n_source div _total")),
        )
        .withColumn("_rem", F.expr(f"CAST({n} AS BIGINT) * n_source - _base * _total"))
        .withColumn("_left", F.lit(n) - F.sum("_base").over(wtot))
        .withColumn(
            "_rk",
            F.row_number().over(Window.orderBy(F.desc("_rem"), F.asc(stratum))),
        )
        .withColumn(
            "quota_src",
            F.col("_base")
            + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(F.lit(0)),
        )
        .select(stratum, "n_source", "quota_src")
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws("#", F.col(key), F.lit(salt))), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy(stratum).orderBy(h.asc(), F.col(key).asc())
    return (
        df.join(F.broadcast(c), stratum)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("quota_src"))
        .drop("__rn")
    )


def pack_sequences(
    docs: DataFrame,
    *,
    seq_len: int = 256,
    buckets: int = 8,
    salt: str = "pack",
    count_col: str | None = None,
) -> DataFrame:
    """Sequence-packing manifest — the concat-and-chunk step that turns a
    curated corpus into fixed-length training sequences: documents are
    concatenated in a deterministic order and every doc is assigned the
    token span it occupies, so a downstream tokenizer can emit packed
    sequences with zero padding waste.

    Deterministic sharded shape (what survives 100 TB): each doc lands
    in a hash bucket (md5 % buckets); WITHIN a bucket docs are ordered
    by (hash, doc_id) and a running token offset is computed with one
    window cumsum — packing is embarrassingly parallel ACROSS buckets,
    and ``buckets`` scales with the cluster (thousands of shards on a
    real corpus; 8 here so the small fixtures still exercise multi-doc
    buckets). Returns (doc_id, bucket, n_tokens, start_offset,
    first_seq, last_seq): start_offset is the doc's first token's global
    offset within its bucket's stream, and first/last_seq the
    ``seq_len``-sized training sequences it spans.

    ``count_col`` names a precomputed per-doc token-count column to pack
    by (e.g. `ext.bpe.bpe_token_counts`'s ``n_bpe_tokens`` — REAL LLM
    budgets, VERDICT r6 #3) instead of the whitespace default; the
    plan shape is identical since the count is already a column.
    """
    from mopso_engine.ext.text import tokens_col

    h = F.conv(F.substring(F.md5(F.concat_ws("#", F.col("doc_id"), F.lit(salt))), 1, 8), 16, 10).cast(
        "long"
    )
    n_col = F.col(count_col) if count_col is not None else F.size(tokens_col())
    base = docs.select(
        "doc_id", n_col.alias("n_tokens"), h.alias("h"), (h % buckets).alias("bucket")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn("start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("start_offset").cast("long").alias("start_offset"),
            F.floor(F.col("start_offset") / seq_len).cast("long").alias("first_seq"),
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / seq_len)
            .cast("long")
            .alias("last_seq"),
        )
    )


def source_mixture(
    docs: DataFrame,
    targets: dict[str, float],
    token_budget: int,
    *,
    stratum: str = "source",
) -> DataFrame:
    """Mixture math — the rate computation behind a training-data mixing
    knob: given target corpus shares per source and a total token
    budget, emit each source's deterministic keep-rate
    ``rate = min(1, target_share·budget / tokens_available)`` plus the
    token shortfall when a source cannot fill its share (the number a
    pipeline operator re-allocates or upsamples against). Feed the rates
    straight into :func:`sample_by_hash` (stratified mode) to realize
    the mixture as one map-only filter.

    Shape: ONE partial-aggregated count shuffle on the source key (the
    stratum cardinality is tiny — sources, languages, domains), then
    arithmetic against the target literals. Sources absent from
    ``targets`` get rate 0 (excluded), matching sample_by_hash's
    default-0 semantics.
    """
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    avail = docs.groupBy(stratum).agg(
        F.sum(toks).cast("long").alias("tokens_available"),
        F.count("*").alias("n_docs"),
    )
    share = F.lit(0.0)
    for k, v in targets.items():
        share = F.when(F.col(stratum) == k, F.lit(float(v))).otherwise(share)
    want = share * F.lit(float(token_budget))
    rate = F.least(F.lit(1.0), want / F.col("tokens_available"))
    return avail.select(
        stratum,
        "tokens_available",
        "n_docs",
        F.round(share, 6).alias("target_share"),
        F.round(rate, 6).alias("rate"),
        # floor() on both engines (a bare double→long cast truncates in
        # Spark but rounds in DuckDB — an oracle trap)
        F.floor(F.greatest(F.lit(0.0), want - F.col("tokens_available")))
        .cast("long")
        .alias("token_shortfall"),
    )


def _scd2_periods(updates, *, key, time, order, payload, collapse):
    """Shared period derivation: sort each key's timeline by ``order``,
    optionally collapse no-change rows, then lead() the next valid_from
    into valid_to. Both Window operators share one Exchange + Sort."""
    w = Window.partitionBy(key).orderBy(*order)
    out = updates
    if collapse:
        cur = F.struct(*[F.col(p) for p in payload])
        prev = F.lag(cur).over(w)
        # first row per key (prev null struct) always survives; a later
        # row survives iff its payload differs (null-safe: a payload
        # column flipping null<->value IS a change)
        out = out.withColumn(
            "__chg", ~prev.eqNullSafe(cur) | F.row_number().over(w).eqNullSafe(1)
        ).where(F.col("__chg"))
    nxt = F.lead(F.col(time)).over(w)
    return out.select(
        key,
        *payload,
        F.col(time).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def scd2_history(
    updates: DataFrame,
    *,
    key: str,
    time: str,
    payload: list[str],
    seq: str | None = None,
    collapse: bool = True,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log: one
    row per (key, effective period) with ``valid_from`` / ``valid_to``
    half-open interval columns and an ``is_current`` flag — the
    feature-store maintenance step whose output the as-of join
    (:func:`asof_join`, `ext.streaming.asof_join_stream_static`)
    consumes for point-in-time lookups.

    ``collapse=True`` (SCD2 change detection) drops an update whose
    payload equals the previous row's payload (null-safe struct
    compare), so periods describe VALUE changes, not arrival events.
    ``seq`` breaks ties among updates sharing (key, time) — without it,
    equal-timestamp updates would make the history nondeterministic
    under partitioning, so supply it whenever ties are possible.

    Physical shape: ONE hash shuffle on ``key``; the collapse lag and
    the valid_to lead share the same (key, time, seq) sort order, so
    Catalyst evaluates both Window operators over a single Exchange +
    Sort. Linear state, no self-join — at 100 TB this is the minimum
    possible plan for the semantics (every key's timeline must meet).

    Output: (key, payload..., valid_from, valid_to, is_current),
    valid_to null for the open (current) period.
    """
    order = [F.col(time).asc()] + ([F.col(seq).asc()] if seq else [])
    upd = updates.select(key, time, *(([seq] if seq else []) + payload))
    return _scd2_periods(upd, key=key, time=time, order=order, payload=payload, collapse=collapse)


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    *,
    key: str,
    time: str,
    payload: list[str],
    seq: str | None = None,
    collapse: bool = True,
) -> DataFrame:
    """Merge a new update batch into an existing SCD2 ``history`` (the
    output shape of :func:`scd2_history`), producing the history that a
    full recompute over (original updates ∪ batch) would produce — the
    incremental upsert a daily feature-store build runs.

    Only TOUCHED keys (those present in the batch) are recomputed: the
    untouched partition of the history passes through unchanged via an
    anti join, and the touched keys' periods are re-derived from their
    surviving change rows (valid_from re-enters as the update time)
    unioned with the batch. Correct because collapse is idempotent: the
    rows ``scd2_history`` dropped were exactly the no-change arrivals,
    whose absence cannot alter any later comparison — PROVIDED batches
    arrive in per-key time order (the streaming/append case). An
    out-of-order backfill inserted BEFORE an existing change can need a
    row the original collapse dropped (v=10@t1, v=10@t3 collapsed to
    one period; a late v=20@t2 should resurrect the t3 flip-back, but
    t3 is gone). For out-of-order feeds run ``collapse=False`` (every
    arrival survives, merge is then exact under any order) and collapse
    once at read time. Replayed history
    Replayed rows order BEFORE batch rows at an equal timestamp (the
    original arrival had already won its tie inside the old history),
    and replayed rows tied with EACH OTHER keep their original relative
    order, reconstructed from the period geometry: among same-(key,
    time) survivors the zero-length periods lost their tie and the
    longest/open period won, so ordering by valid_to (nulls last)
    replays the original seq order without storing it.

    100 TB shape: the update batch is tiny next to the accumulated
    history, so its distinct-key set BROADCASTS to both the anti and
    semi sides — the big history table never shuffles; only the touched
    keys' rows (a broadcast-pruned sliver) pay the scd2 window. If a
    batch ever rivals the history in key count, drop the two broadcast
    hints and the same plan degrades to shuffle joins.
    """
    upd_keys = updates.select(key).distinct()
    untouched = history.join(F.broadcast(upd_keys), key, "left_anti")
    touched = history.join(F.broadcast(upd_keys), key, "left_semi")
    if seq:
        # reconstruct the original arrival order among replayed rows
        # tied on (key, time): zero-length periods lost their tie, the
        # longest/open period won — valid_to ASC NULLS LAST replays the
        # original seq order without storing it, directly in the main
        # window's sort key (no extra window, no extra shuffle). The
        # double cast keeps sub-second timestamp resolution and stays
        # exact (epoch microseconds < 2^53).
        replay = touched.select(
            key,
            F.col("valid_from").alias(time),
            *payload,
            F.lit(0).alias("__src"),
            F.col("valid_to").cast("double").alias("__ord"),
        )
        batch = updates.select(
            key, time, *payload, F.lit(1).alias("__src"), F.col(seq).cast("double").alias("__ord")
        )
        merged = replay.unionByName(batch)
        order = [F.col(time).asc(), F.col("__src").asc(), F.col("__ord").asc_nulls_last()]
    else:
        replay = touched.select(key, F.col("valid_from").alias(time), *payload)
        merged = replay.unionByName(updates.select(key, time, *payload))
        order = [F.col(time).asc()]
    recomputed = _scd2_periods(
        merged, key=key, time=time, order=order, payload=payload, collapse=collapse
    )
    return untouched.unionByName(recomputed)


def split_by_hash(
    df: DataFrame,
    key: str,
    fractions: dict[str, float],
    *,
    salt: str = "split",
) -> DataFrame:
    """Deterministic disjoint dataset split (train/val/test): each row
    lands in exactly one named split by which half-open hash interval
    its uniform falls into — [0, f1) → first split, [f1, f1+f2) →
    second, … — so the splits are DISJOINT and EXHAUSTIVE by
    construction, stable across runs/engines/partitionings (md5 hash
    uniform), and leakage-proof: a key always lands in the same split,
    so near-duplicate rows sharing a key can never straddle train/test.

    Fractions must sum to 1 (±1e-9). Appends a ``split`` column;
    map-only codegen'd CASE over the scan, zero shuffle — filtering
    one split later prunes at the scan. Split on a DOCUMENT/GROUP key
    (not a row id) when rows of one entity must stay together.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = hash_uniform(key, salt=salt)
    expr = None
    hi = 0.0
    names = list(fractions)
    for name in names[:-1]:
        hi += fractions[name]
        cond = u < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return df.withColumn("split", last if expr is None else expr.otherwise(last))


def negative_pairs(
    df: DataFrame,
    key: str,
    *,
    k: int = 2,
    buckets: int = 64,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training data:
    each anchor row gets up to ``k`` pseudo-random partners drawn from
    its hash bucket — the distributed analogue of in-batch negatives
    (partners are hash-scrambled, so within-bucket adjacency carries no
    semantic signal). Replayable: same corpus + salt → same pairs, on
    any engine with md5.

    Construction: bucket = ⌊u₁·B⌋; within each bucket rows take a
    scrambled dense rank (ordered by an independent hash u₂, key
    tiebreak), and anchor at rank r pairs with ranks (r+j) mod size for
    j = 1..min(k, size−1) — offsets never hit the anchor itself, and a
    singleton bucket yields no pairs. Output: (anchor, negative, j).

    Scale shape: one Exchange on the bucket key shared by both window
    functions (rank + size), a codegen'd sequence-explode for the
    offsets, and ONE equality self-join on (bucket, rank) to resolve
    partner keys. Buckets bound every window partition and parallelize
    the join — at 100 TB raise ``buckets`` so bucket size stays ~1e5
    rows; no global sort, nothing quadratic.

    ``key`` must be unique per row (anchor ≠ negative is guaranteed by
    RANK inequality, so duplicate key values could pair a value with
    itself) — dedup first, which a contrastive corpus wants anyway.
    """
    if k < 1:
        raise ValueError("k must be ≥ 1")
    u1 = hash_uniform(key, salt=salt + ".b")
    u2 = hash_uniform(key, salt=salt + ".r")
    w = Window.partitionBy("__bkt").orderBy(u2.asc(), F.col(key).asc())
    ws = Window.partitionBy("__bkt")
    base = (
        df.select(F.col(key))
        .withColumn("__bkt", F.floor(u1 * F.lit(float(buckets))).cast("long"))
        .withColumn("__rank", F.row_number().over(w) - F.lit(1))
        .withColumn("__size", F.count("*").over(ws))
    )
    anchors = base.withColumn(
        "j",
        F.explode(
            F.when(
                F.col("__size") > 1,
                F.sequence(F.lit(1), F.least(F.lit(int(k)), F.col("__size") - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ),
    ).select(
        F.col(key).alias("anchor"),
        "__bkt",
        ((F.col("__rank") + F.col("j")) % F.col("__size")).alias("__prank"),
        "j",
    )
    partners = base.select(
        F.col(key).alias("negative"), F.col("__bkt"), F.col("__rank").alias("__prank")
    )
    return anchors.join(partners, ["__bkt", "__prank"]).select("anchor", "negative", "j")


def asof_lookup_scd2(
    history: DataFrame,
    probes: DataFrame,
    *,
    key: str,
    time: str,
    payload: list[str],
) -> DataFrame:
    """Point-in-time lookup FROM a materialized SCD2 history (the output
    of :func:`scd2_history`): each probe row joins the period containing
    its timestamp — ``valid_from < t AND (valid_to IS NULL OR t <=
    valid_to)`` … rendered half-open and STRICT to match
    :func:`asof_join`'s strict semantics (a value effective exactly AT
    the probe instant is not yet visible).

    The serving-path complement of the union-window as-of: when the
    history table already exists (built once, maintained incrementally
    by scd2_merge / scd2_maintain_stream), an equi-join on ``key`` with
    the interval residual resolves each probe against the ONE matching
    period — no window, no union, and the history side can be bucketed
    by key for a shuffle-free serve. Probes with no containing period
    (before the key's first update, or unknown key) keep null payloads
    via the left join.

    Exactly equivalent to ``asof_join(probes, change_log)`` over the
    history's non-zero-length periods (tested) — the two renderings are
    interchangeable; this one wins when the history is the stored
    artifact, the union-window wins when only the raw update log exists.
    """
    pcols = list(probes.columns)
    if key not in pcols or time not in pcols:
        raise ValueError(f"probes must carry the {key!r} and {time!r} columns")
    h = history.select(
        F.col(key).alias("__hk"),
        "valid_from",
        "valid_to",
        *[F.col(p).alias(f"__p_{p}") for p in payload],
    )
    cond = (
        (F.col(key) == F.col("__hk"))
        & (F.col("valid_from") < F.col(time))
        & (F.col("valid_to").isNull() | (F.col(time) <= F.col("valid_to")))
    )
    out = probes.join(h, cond, "left")
    return out.select(
        *pcols, *[F.col(f"__p_{p}").alias(f"asof_{p}") for p in payload]
    )


def scd2_asof_snapshot(history: DataFrame, asof: Column) -> DataFrame:
    """Time-travel read over a materialized SCD2 history — the whole
    table ``AS OF`` one instant: every key's row whose effective period
    contains ``asof`` under the family's STRICT half-open convention
    (``valid_from < t AND (valid_to IS NULL OR t <= valid_to)`` — the
    same interval :func:`asof_lookup_scd2` resolves probes against, so
    a per-key lookup at T and this whole-table read at T always agree;
    a value effective exactly AT the instant is not yet visible).
    Keys whose first period opens at or after T are absent — they did
    not exist yet.

    The missing read half of the SCD2 write machinery: scd2_history /
    scd2_merge / scd2_maintain_stream keep the full versioned ledger,
    and ANY past state of the dimension replays from it with this one
    filter — the dimension-table twin of :func:`cdc_snapshot_asof`'s
    fact-ledger time travel.

    Shape (100 TB): map-only — a pushed-down range predicate on the
    stored history scan, ZERO shuffles and ZERO joins; the half-open
    period invariant (scd2_history construction) guarantees at most one
    surviving row per key, so no dedup window is needed. On a history
    partitioned by valid_from month, the ``valid_from < t`` half of the
    predicate prunes partitions.

    NULL asof raises in-plan (a NULL cut would silently return an
    empty table).
    """
    asof_checked = F.when(
        asof.isNull(),
        F.raise_error(F.lit("scd2_asof_snapshot: NULL asof timestamp")),
    ).otherwise(asof)
    return history.where(
        (F.col("valid_from") < asof_checked)
        & (F.col("valid_to").isNull() | (asof_checked <= F.col("valid_to")))
    )


def key_skew_profile(df: DataFrame, key: str, *, top_k: int = 10) -> DataFrame:
    """Key-skew diagnostic — the MEASURE step before choosing a join or
    aggregation strategy at scale (salt? AQE skew split? broadcast?):
    the ``top_k`` heaviest values of ``key`` with their share of all
    rows and their skew ratio vs a perfectly uniform key (ratio 1.0 =
    no skew; the planted-skew dedup fixtures light this up). Totals ride
    every row so the output is one self-contained table.

    Shape: one partial-aggregated count shuffle on the key, a two-number
    re-aggregate of that count table (rows, distinct keys), and a
    TakeOrdered top-k (per-partition heaps, no global sort) — the window
    that ranks runs over top_k rows only. skew_ratio multiplies BEFORE
    dividing in double space (cnt·n_keys can pass 2^63 at corpus scale).
    """
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"), F.count("*").alias("n_keys")
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col(key).asc()).limit(int(top_k))
    w = Window.orderBy(F.col("cnt").desc(), F.col(key).asc())
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .select(
            key,
            "cnt",
            "rank",
            F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("skew_ratio"),
            "n_rows",
            "n_keys",
        )
    )


def source_mixture_temperature(
    docs: DataFrame,
    *,
    alpha: float = 0.5,
    token_budget: int,
    stratum: str = "source",
) -> DataFrame:
    """Temperature-scaled mixture — the multilingual/multi-source sampling
    rule (share_i ∝ n_i^α): α=1 keeps natural proportions, α→0 flattens
    toward uniform, so low-resource sources are upsampled relative to
    their natural share. The complement of :func:`source_mixture`, which
    takes target shares as INPUT — here the shares are derived from the
    corpus itself.

    Exactness: n_i^α is quantized to integer micro-units BEFORE the
    normalizing sum (pow is the one libm call here; summing quantized
    longs keeps the denominator — and thus every share — identical
    under any partitioning and engine).

    Shape: one partial-aggregated count shuffle on the tiny stratum key;
    the normalizing total is a broadcast scalar; rates feed
    sample_by_hash(stratified) exactly like source_mixture's.
    """
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    avail = docs.groupBy(stratum).agg(
        F.sum(toks).cast("long").alias("tokens_available"),
        F.count("*").alias("n_docs"),
    )
    # α = 0.5 goes through sqrt, which IEEE 754 REQUIRES to be correctly
    # rounded — engine-exact; generic pow is last-ulp engine-dependent
    # (the micro-unit quantization then still makes the SUM stable, but a
    # boundary qa could differ, so prefer the sqrt path where possible)
    powed = (
        F.sqrt(F.col("tokens_available").cast("double"))
        if float(alpha) == 0.5
        else F.pow(F.col("tokens_available").cast("double"), F.lit(float(alpha)))
    )
    qa = F.floor(powed * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = avail.withColumn("qa", qa)
    denom = scored.agg(F.sum("qa").cast("double").alias("qsum"))
    share = F.col("qa") / F.col("qsum")
    want = share * F.lit(float(token_budget))
    rate = F.least(F.lit(1.0), want / F.col("tokens_available"))
    return (
        scored.crossJoin(F.broadcast(denom))
        .select(
            stratum,
            "tokens_available",
            "n_docs",
            F.round(share, 6).alias("target_share"),
            F.round(rate, 6).alias("rate"),
            F.floor(F.greatest(F.lit(0.0), want - F.col("tokens_available")))
            .cast("long")
            .alias("token_shortfall"),
        )
    )


def deterministic_shuffle(
    df: DataFrame, key: str, *, n_shards: int, salt: str = "shuf"
) -> DataFrame:
    """Reproducible global shuffle manifest — the training-data export
    order: every row gets a (shard, pos_in_shard) address drawn from the
    md5-uniform of its key, so the permutation is a pure function of the
    data (any engine, any partitioning, any rerun emits the same order)
    yet statistically well-mixed. Write with ``partitionBy(shard)``
    sorted by pos and a trainer streams shards in filename order for a
    deterministic epoch.

    Shape: the shard assignment is map-only; the per-shard position is
    ONE rank window partitioned by shard — shards bound every window
    partition (pick n_shards ∝ rows/target_shard_size), so no partition
    outgrows an executor and the plan carries exactly one shuffle.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    u = hash_uniform(key, salt=salt)
    w = Window.partitionBy("shard").orderBy(F.col("__u").asc(), F.col(key).asc())
    return (
        df.withColumn("__u", u)
        .withColumn("shard", F.floor(F.col("__u") * F.lit(int(n_shards))).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .drop("__u")
    )


def training_epoch_mix(
    docs: DataFrame,
    *,
    alpha: float = 0.5,
    token_budget: int,
    n_shards: int = 16,
    mix_salt: str = "mix",
    shuffle_salt: str = "shuf",
) -> DataFrame:
    """End-to-end training-epoch manifest in ONE declarative plan — the
    composition a pretraining data pipeline runs nightly: exact-dedup
    canonicalization → temperature-scaled per-source rates (share ∝ n^α
    over the DEDUPED corpus, so dup-heavy sources can't buy extra
    share) → deterministic hash sampling at those rates → reproducible
    (shard, pos) export addresses. Returns (doc_id, source, shard, pos).

    Every stage is the already-proven primitive (exact_dedup's
    fingerprint window, source_mixture_temperature's quantized shares,
    sample_by_hash's md5 uniform, deterministic_shuffle's manifest), so
    the whole epoch is a pure function of the corpus: any engine, any
    partitioning, any rerun emits the identical sample in the identical
    order.

    Scale shape: one fingerprint-keyed window (the dedup), one tiny
    stratum agg + broadcast scalar (the rates), a broadcast rates join
    + map-only sample filter, and one shard-bounded rank window — three
    key shuffles total for the full ladder, none keyed on anything that
    grows faster than the corpus.
    """
    from mopso_engine.ext.dedup import normalized_text

    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    canon = (
        docs.select("doc_id", "source", "text", F.md5(normalized_text()).alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", "text")
    )
    rates = source_mixture_temperature(
        canon, alpha=alpha, token_budget=token_budget
    ).select("source", "rate")
    sampled = (
        canon.join(F.broadcast(rates), "source")
        .where(
            hash_uniform(F.col("doc_id").cast("string"), salt=mix_salt)
            < F.col("rate")
        )
        .select("doc_id", "source")
    )
    return deterministic_shuffle(
        sampled, "doc_id", n_shards=n_shards, salt=shuffle_salt
    ).select("doc_id", "source", "shard", "pos")


def winsorized_stats(
    df: DataFrame,
    *,
    key: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    p: float = 0.05,
    sample_fraction: float = 0.25,
    salt: str = "s0",
) -> DataFrame:
    """Winsorized per-key statistics — the robust-aggregation pattern
    for metric streams whose tails are garbage (sensor spikes, retry
    storms, unit bugs): clamp each value to the [p, 1-p] percentile
    band and aggregate the clamped series, reporting how much was
    clamped on each side so the trim is auditable.

    The percentile thresholds come from a DETERMINISTIC md5 hash sample
    per key (the perplexity_buckets discipline): exact global
    percentiles would need a per-key full sort, and engine percentile
    functions disagree on interpolation — a bounded sample with integer
    cut-rank comparisons (rk·den <= num·n + den − 1 is
    rk <= ceil(num·n/den), p parsed as a rational) is cheap, exactly
    replayable, and statistically adequate for a trim rule. Clamped
    values quantize to integer micro-units before the mean's sum, so
    the aggregate is partition-order-proof.

    Keys absent from the sample pass through unclamped (flags 0,
    thresholds NULL) rather than guessing.

    Returns (key, n, lo, hi, n_clamped_lo, n_clamped_hi,
    mean_winsorized).
    """
    from fractions import Fraction

    frac = Fraction(str(p))
    if not (0 < frac < Fraction(1, 2)):
        raise ValueError("p must be in (0, 0.5)")
    if not (0.0 < sample_fraction <= 1.0):
        raise ValueError("sample_fraction must be in (0, 1]")
    num, den = frac.numerator, frac.denominator
    sample = df.where(
        hash_uniform(F.col(id_col).cast("string"), salt=salt)
        < F.lit(float(sample_fraction))
    )
    w_rank = Window.partitionBy(key).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy(key)
    ranked = sample.select(
        key,
        F.col(value_col).alias("_v"),
        F.row_number().over(w_rank).alias("_rk"),
        F.count("*").over(w_all).alias("_n"),
    )
    thr = ranked.groupBy(key).agg(
        F.max(
            F.when(F.col("_rk") * den <= num * F.col("_n") + (den - 1), F.col("_v"))
        ).alias("lo"),
        F.max(
            F.when(
                F.col("_rk") * den <= (den - num) * F.col("_n") + (den - 1),
                F.col("_v"),
            )
        ).alias("hi"),
    )
    clamped = F.when(
        F.col("lo").isNull(), F.col(value_col)
    ).otherwise(F.least(F.greatest(F.col(value_col), F.col("lo")), F.col("hi")))
    micro = F.floor(clamped * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        df.join(F.broadcast(thr), key, "left")
        .select(
            key,
            "lo",
            "hi",
            micro.alias("_m"),
            (F.col("lo").isNotNull() & (F.col(value_col) < F.col("lo")))
            .cast("int")
            .alias("_cl"),
            (F.col("hi").isNotNull() & (F.col(value_col) > F.col("hi")))
            .cast("int")
            .alias("_ch"),
        )
        .groupBy(key)
        .agg(
            F.count("*").alias("n"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            F.sum("_cl").alias("n_clamped_lo"),
            F.sum("_ch").alias("n_clamped_hi"),
            F.round(F.sum("_m") / (F.lit(1e6) * F.count("*")), 6).alias(
                "mean_winsorized"
            ),
        )
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Ordered conversion funnel: how many users performed step1, then
    step2 strictly after it, then step3 after that, … — the classic
    product-analytics query, done in ONE user-keyed pass.

    Per user the relevant events (only the funnel's own types survive
    the filter) collect into a (ts, id, type)-sorted in-row list and a
    single `aggregate` HOF walks it greedily: the state is the number
    of steps completed, advancing when the current element matches the
    NEXT step. Greedy earliest-matching is optimal for subsequence
    reachability, so this equals the sequential-first-occurrence
    construction an analyst would write with k chained self-joins —
    at the cost of one shuffle instead of k.

    Order is (ts, id) lexicographic — same-timestamp events are
    consumed in id order, deterministically. At 100 TB the collected
    list is bounded by per-user funnel-event activity (sessions), not
    the corpus; the fold is a zero-shuffle expression.

    Returns one row per step: (step, step_name, n_users) with
    n_users = users whose greedy walk reached at least that step.
    """
    if not steps or len(set(steps)) != len(steps):
        raise ValueError("steps must be a non-empty list of distinct types")
    seq = (
        events.where(F.col("event_type").isin(list(steps)))
        .groupBy(user_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(ts_col, id_col, "event_type"))
            ).alias("seq")
        )
    )

    def advance(acc, e):
        out = acc
        for k, s in enumerate(steps):
            out = F.when((acc == k) & (e["event_type"] == s), k + 1).otherwise(out)
        return out

    reached = seq.select(
        F.aggregate("seq", F.lit(0), advance).alias("reached")
    )
    counts = reached.agg(
        *[
            F.sum((F.col("reached") >= k + 1).cast("long")).alias(f"r{k}")
            for k in range(len(steps))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(k + 1).alias("step"),
                F.lit(s).alias("step_name"),
                F.col(f"r{k}").alias("n_users"),
            )
            for k, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


def event_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order transition matrix over per-user event sequences —
    the Markov-chain view behind next-action models and funnel-drop
    diagnostics: for every consecutive (ts, id)-ordered pair of events
    a user emitted, count (from_type → to_type) and its share among
    all transitions leaving from_type.

    Shape: ONE user-keyed sort window (lead), then a types²-bounded
    pair aggregation; the per-from normalization is a window over that
    tiny aggregate, not the corpus. Probabilities are exact ratios of
    longs rounded once.

    Returns (from_type, to_type, n, p) — p = n / Σ n over from_type.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    paired = (
        events.select(user_col, ts_col, id_col, "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .where(F.col("to_type").isNotNull())
    )
    counts = paired.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type", "to_type", "n", F.round(F.col("n") / tot, 6).alias("p")
    )


def ols_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    y_col: str,
    *,
    y_unit: int = 1_000_000,
) -> DataFrame:
    """Per-key closed-form OLS trend of ``y_col`` over event time — the
    drift monitor behind "is this source's quality/value decaying?"
    dashboards: slope and intercept of the least-squares line, computed
    from the five classic sufficient statistics (n, Σx, Σy, Σx², Σxy) in
    ONE key-grouped aggregate. No per-key sort, no window, no second
    scan of the data.

    Exactness: x = microsecond epoch (floor-quantized from the
    timestamp→double cast both engines agree on to the ULP), centered by
    the GLOBAL min so magnitudes stay small; y is floor-quantized to
    ``y_unit`` micro-units. The sums accumulate as DECIMAL(38,0) —
    products are cast to DECIMAL(19,0) BEFORE multiplying so nothing
    overflows BIGINT, and decimal sums are exact integers under any
    partitioning/order. The slope/intercept doubles are then derived
    from identical exact operands with an identical expression tree, so
    the quantized outputs hash-match across engines. A key with zero
    x-variance (or n==1) yields NULL slope/intercept in both.

    Magnitude bound: |x_centered| ≤ time-span·1e6 µs, |y_q| ≤
    max|y|·y_unit; Σ x·y stays within DECIMAL(38) for any corpus whose
    rows × span × |y| product is < 1e38 — ~1e12 rows over a decade of
    µs-time and 1e9 y-units still fits with ~4 digits to spare.

    Physical shape (100 TB): one map-side-combined groupBy on the key
    (5 numbers of state per key) + a broadcast one-row global-min
    scalar. Slope units: y-units per second (µ-y per µs ≡ y/s), emitted
    as nano-y/s; intercept is the fitted µ-y value AT the global min-x
    origin.

    Returns (key, n, slope_nano, intercept_micro).
    """
    x_us = F.floor(F.col(ts_col).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    y_q = F.floor(F.col(y_col) * F.lit(float(y_unit)) + F.lit(0.5)).cast("long")
    base = (
        df.where(F.col(ts_col).isNotNull() & F.col(y_col).isNotNull())
        .select(F.col(key_col).alias("key"), x_us.alias("x_us"), y_q.alias("y_q"))
    )
    gmin = base.agg(F.min("x_us").alias("min_x"))
    xd = (F.col("x_us") - F.col("min_x")).cast("decimal(19,0)")
    yd = F.col("y_q").cast("decimal(19,0)")
    sums = (
        base.crossJoin(F.broadcast(gmin))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(xd * yd).alias("sxy"),
        )
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sxy_d = F.col("sxy").cast("double")
    den = n_d * sxx_d - sx_d * sx_d
    slope = F.when(den != F.lit(0.0), (n_d * sxy_d - sx_d * sy_d) / den)
    intercept = F.when(
        den != F.lit(0.0), (sy_d - ((n_d * sxy_d - sx_d * sy_d) / den) * sx_d) / n_d
    )
    return sums.select(
        "key",
        "n",
        F.floor(slope * F.lit(1e9) + F.lit(0.5)).cast("long").alias("slope_nano"),
        F.floor(intercept + F.lit(0.5)).cast("long").alias("intercept_micro"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Snapshot diff between two versions of a table — the regression
    audit every pipeline change needs before it ships: which keys were
    ``added``, ``removed``, ``changed``, ``unchanged``? (The relational
    twin of a dataset-version diff in a lakehouse changelog.)

    Payload equality compares an md5 fingerprint of the payload columns
    (concat_ws on an ASCII unit separator, NULLs mapped to an explicit
    sentinel so NULL ≠ '' ≠ absent). Payload columns should be strings
    or cast cross-engine-stably by the caller — numeric→string rendering
    is engine-specific. Keys must be non-null AND unique per side: a
    duplicated key would fan out through the full-outer join (every
    old×new combination classifies), so both contracts are GUARDED with
    an in-plan raise_error (mirroring canonical_by_score's treatment) —
    a NULL or duplicated key fails loudly instead of silently inflating
    all four status counts. The guard's per-key count window partitions
    on the same keys the join shuffles on, so it rides the exchange the
    diff already pays.

    Physical shape (100 TB): fingerprints are computed map-side next to
    each scan, so the ONLY data movement is the full-outer key join (one
    shuffle per side, AQE-skew-safe); nothing wide survives the join —
    just keys + two 32-char fingerprints.

    Returns (key_cols..., status) with status in
    {'added','removed','changed','unchanged'}.
    """
    if not key_cols or not payload_cols:
        raise ValueError("key_cols and payload_cols must be non-empty")
    sep, nul = "\x1f", "\x1eNULL"  # unit-sep / record-sep sentinels (NUL
    # bytes are rejected by some engines' VARCHARs, so the NULL sentinel
    # leads with \x1e instead)

    def fp(df: DataFrame, alias: str) -> DataFrame:
        parts = [F.coalesce(F.col(c).cast("string"), F.lit(nul)) for c in payload_cols]
        key_null = F.lit(False)
        for k in key_cols:
            key_null = key_null | F.col(k).isNull()
        per_key = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
        side = "old" if alias == "old_fp" else "new"
        fpc = (
            F.when(
                key_null,
                F.raise_error(F.lit(f"table_diff: NULL key on the {side} side")),
            )
            .when(
                per_key > 1,
                F.raise_error(
                    F.concat(
                        F.lit(f"table_diff: duplicated key on the {side} side: "),
                        F.concat_ws(
                            "/", *[F.col(k).cast("string") for k in key_cols]
                        ),
                    )
                ),
            )
            .otherwise(F.md5(F.concat_ws(sep, *parts)))
        )
        return df.select(*[F.col(k) for k in key_cols], fpc.alias(alias))

    j = fp(old, "old_fp").join(fp(new, "new_fp"), key_cols, "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*key_cols, status.alias("status"))


def table_diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Status counts of :func:`table_diff` — the one-line regression
    gate ('this refactor changed 0 rows'). Returns (status, n)."""
    return (
        table_diff(old, new, key_cols, payload_cols)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def decayed_topk(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    half_life_s: int = 259_200,
    k: int = 20,
    unit: int = 1_000_000,
    max_shift: int = 19,
) -> DataFrame:
    """Recency-decayed activity ranking — the "trending now" query:
    every event contributes a weight that HALVES per ``half_life_s`` of
    age, and keys rank by their decayed sum, so a burst yesterday beats
    steady noise last month.

    Exactness (the trick): decay is a POWER-OF-TWO BIT SHIFT on integer
    micro-units — weight = unit >> min(age div half_life, max_shift) —
    i.e. the half-life curve quantized to its bucket floor. No pow(),
    no exp(), therefore no cross-engine transcendental drift: the score
    is an exact integer sum under any partitioning. The reference
    instant is the corpus max timestamp (a broadcast scalar derived
    from the data, so the operator is deterministic and replayable —
    no wall clock).

    100 TB shape: one tiny max-ts aggregate broadcast to a map-only
    weight projection, ONE map-side-combined key sum, TakeOrdered top-k.
    The same weight expression drops into a streaming micro-batch
    unchanged (the reference instant then becomes the watermark).

    Returns top-``k`` (key, score_micro, n_events) by
    (score desc, key asc).
    """
    if half_life_s <= 0:
        raise ValueError(f"half_life_s must be positive, got {half_life_s}")
    x_us = F.floor(F.col(ts_col).cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    base = df.where(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("key"), x_us.alias("x_us")
    )
    ref = base.agg(F.max("x_us").alias("ref_us"))
    hl_us = int(half_life_s) * 1_000_000
    weight = F.expr(
        f"shiftright(CAST({int(unit)} AS BIGINT), "
        f"CAST(LEAST((ref_us - x_us) div {hl_us}, {int(max_shift)}) AS INT))"
    )
    return (
        base.crossJoin(F.broadcast(ref))
        .select("key", weight.alias("w"))
        .groupBy("key")
        .agg(F.sum("w").alias("score_micro"), F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("score_micro"), F.asc("key"))
        .limit(k)
    )


def daily_count_anomalies(
    df: DataFrame,
    ts_col: str,
    *,
    mad_multiple: int = 3,
) -> DataFrame:
    """Broken-ingest detector: flag calendar days whose event count
    deviates from the median daily count by more than ``mad_multiple``
    median-absolute-deviations — the robust z-score every pipeline
    monitor runs over its volume series (an outage day or a
    double-delivery day cannot drag the yardstick the way it drags a
    mean/stddev).

    Exactness: median and MAD are LOWER medians selected by integer
    rank (value at row_number (n+1) div 2 under (value asc, day asc)) —
    no interpolation, no engine percentile; the flag is an exact
    integer comparison ``deviation > mad_multiple · MAD``. With MAD = 0
    (perfectly steady series) any nonzero deviation flags.

    Shape note: the day table is an aggregate-of-an-aggregate — bounded
    by CALENDAR DAYS, not corpus size (a decade is ~3.7k rows) — so the
    two global rank windows over it are windows over a provably tiny
    relation; the only corpus-scale work is the one map-side-combined
    day count.

    Returns (day, n_events, deviation, is_anomaly) for every day.
    """
    if mad_multiple < 1:
        raise ValueError(f"mad_multiple must be >= 1, got {mad_multiple}")
    days = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    n1 = days.agg(F.count(F.lit(1)).alias("n"))
    w1 = Window.orderBy(F.col("n_events").asc(), F.col("day").asc())
    med = (
        days.withColumn("rk", F.row_number().over(w1))
        .crossJoin(F.broadcast(n1))
        .where(F.expr("rk = (n + 1) div 2"))
        .select(F.col("n_events").alias("med"))
    )
    dev = days.crossJoin(F.broadcast(med)).select(
        "day", "n_events", F.abs(F.col("n_events") - F.col("med")).alias("deviation")
    )
    w2 = Window.orderBy(F.col("deviation").asc(), F.col("day").asc())
    mad = (
        dev.withColumn("rk", F.row_number().over(w2))
        .crossJoin(F.broadcast(n1))
        .where(F.expr("rk = (n + 1) div 2"))
        .select(F.col("deviation").alias("mad"))
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        # ISO string rendering: engines disagree on date vs timestamp
        # physical types, strings compare identically everywhere
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "deviation",
        (F.col("deviation") > F.lit(int(mad_multiple)) * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


def attribution_report(
    events: DataFrame,
    *,
    convert_type: str = "purchase",
    touch_type: str = "click",
    window_s: int = 3600,
    ts_col: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Last-touch attribution — the ad-tech staple: for every
    conversion event, find the user's LATEST strictly-prior touch event
    and credit it iff it happened within ``window_s`` seconds; report
    daily conversion and attribution counts (the campaign-health series).

    Rendering: the prior-touch lookup is the repo's as-of shape
    (:func:`asof_join` — union + ONE key-ordered window, linear state,
    no range-pair join); the staleness bound and the day rollup are
    map-side expressions plus one tiny day aggregate. Epoch doubles
    subtract identically in both engines, so the window_s boundary is
    engine-exact.

    Returns (day, n_conversions, n_attributed), day as ISO string.
    """
    if window_s <= 0:
        raise ValueError(f"window_s must be positive, got {window_s}")
    conv = events.where(F.col("event_type") == convert_type).select(
        key, ts_col, "event_id"
    )
    touch = events.where(F.col("event_type") == touch_type).select(
        key,
        ts_col,
        F.col(ts_col).cast("double").alias("touch_epoch"),
    )
    j = asof_join(
        conv, touch, key=key, time=ts_col, payload=["touch_epoch"], strict=True
    )
    attributed = F.col("asof_touch_epoch").isNotNull() & (
        (F.col(ts_col).cast("double") - F.col("asof_touch_epoch"))
        <= F.lit(float(window_s))
    )
    return (
        j.groupBy(F.date_format(F.to_date(ts_col), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(attributed.cast("long")).alias("n_attributed"),
        )
    )


def _attribution_pairs(
    events: DataFrame,
    value_micro: Column,
    *,
    convert_type: str,
    touch_type: str,
    window_s: int,
    ts_col: str,
    key: str,
    seq_col: str,
    caller: str,
) -> DataFrame:
    """The bounded conversion↔touch pair table every multi-touch credit
    model splits over (linear / position / time-decay — the models
    differ ONLY in the per-pair credit expression). Equi-join on the
    USER key with a residual integer-microsecond range predicate — one
    exchange per side, per-user pair fan-out bounded by touches inside
    the window, never a cross join.

    Matched failures (raised under ``caller``'s name so each model's
    oracle mirrors its own raise): NULL key/ts/seq on a PARTICIPATING
    row raises — the guard rides the KEY column so predicate pushdown
    of the join's isnotnull(key) filter IS the raise, and its scope is
    the convert/touch types only because Catalyst pushes the type
    filters below the projection (ADVICE r13; every model's oracle is
    scoped identically); NULL value raises; NEGATIVE value raises
    (div/mod remainder-splitting floors vs truncates across engines,
    and a refund cannot be credit-split).

    SPARK-VERSION DEPENDENCY (ADVICE r14): the guard's participating-
    type scope relies on the optimizer evaluating the pushed
    ``event_type`` filters before the pushed ``isnotnull(key)``
    conjunct of the guarded projection — current-Catalyst behavior
    pinned ONLY by the both-ways regression tests
    (tests/test_pipeline.py, the corrupt-participating-row raises /
    corrupt-non-participating-row passes pair). A Spark engine bump
    must re-run those tests deliberately: if a future optimizer
    reorders the conjuncts, non-participating corrupt rows would raise
    here while the DuckDB oracle (scoped to the two types) does not.

    Returns (__k, __c_us, __cid, __v, __t_ts, __t_us, __tid).
    """
    if window_s <= 0:
        raise ValueError(f"window_s must be positive, got {window_s}")
    key_checked = F.when(
        F.col(key).isNull()
        | F.col(ts_col).isNull()
        | F.col(seq_col).isNull(),
        F.raise_error(
            F.lit(
                f"{caller}: NULL {key}/{ts_col}/{seq_col} "
                f"— the event feed is corrupt"
            )
        ),
    ).otherwise(F.col(key))
    ev = events.withColumn(key, key_checked)
    v_checked = (
        F.when(
            value_micro.isNull(),
            F.raise_error(F.lit(f"{caller}: NULL conversion value")),
        )
        .when(
            value_micro < 0,
            F.raise_error(
                F.lit(
                    f"{caller}: negative conversion value — "
                    f"div/mod remainder-splitting is not defined for "
                    f"refunds (and floors vs truncates across engines)"
                )
            ),
        )
        .otherwise(value_micro)
    )
    conv = ev.where(F.col("event_type") == convert_type).select(
        F.col(key).alias("__k"),
        F.unix_micros(ts_col).alias("__c_us"),
        F.col(seq_col).alias("__cid"),
        v_checked.alias("__v"),
    )
    touch = ev.where(F.col("event_type") == touch_type).select(
        F.col(key).alias("__k"),
        F.col(ts_col).alias("__t_ts"),
        F.unix_micros(ts_col).alias("__t_us"),
        F.col(seq_col).alias("__tid"),
    )
    w_us = int(window_s) * 1_000_000
    return conv.join(touch, "__k").where(
        (F.col("__t_us") < F.col("__c_us"))
        & (F.col("__c_us") - F.col("__t_us") <= F.lit(w_us))
    )


def multi_touch_attribution(
    events: DataFrame,
    value_micro: Column,
    *,
    convert_type: str = "purchase",
    touch_type: str = "click",
    window_s: int = 259_200,
    ts_col: str = "ts",
    key: str = "user_id",
    seq_col: str = "event_id",
) -> DataFrame:
    """LINEAR multi-touch attribution — the credit model last-touch
    (:func:`attribution_report`) cannot express: every strictly-prior
    touch within ``window_s`` of a conversion shares that conversion's
    value EQUALLY, so a campaign that opens journeys is visible, not
    just the one that closes them. The daily credited-touch series is
    the budget-allocation readout.

    Exact integer credit: a conversion worth V micro with k in-window
    touches pays ``V div k`` to every touch plus 1 extra micro to the
    first ``V mod k`` touches in (touch ts asc, touch seq asc) order —
    credits are engine-exact integers and SUM EXACTLY to V per
    conversion (no float share, no lost remainder). Conversions with
    zero in-window touches credit nothing (they are last-touch's
    unattributed population; attribution_report counts them).

    Matched failures: a NULL key/ts/seq on a PARTICIPATING row — one
    whose ``event_type`` is the convert or touch type — raises (the
    CDC corrupt-feed class); NULL value raises (the bootstrap
    silent-skew class); a NEGATIVE value raises — Spark's
    ``div``/``%`` truncate toward zero while DuckDB's ``//``/``%``
    floor, so negative remainder-splitting is exactly the cross-engine
    divergence class the convention forbids (a refund cannot be
    credit-split by this rule anyway). The key guard's scope is the
    participating types ONLY: Catalyst pushes the ``event_type``
    filters below the guarded projection, so a corrupt row of any
    other type (a 'view' with NULL user_id) never evaluates the guard
    and is ignored — it cannot affect the result, and the DuckDB
    oracle mirror is scoped to the same two types so both engines
    agree (ADVICE r13; regression-tested both ways).

    Shape (100 TB): the conversion↔touch pairing is an equi-join on
    the USER key with a residual integer-microsecond range predicate —
    one exchange per side, per-user pair fan-out bounded by touches
    inside the window, never a cross join; the per-conversion (k, r)
    window runs partitioned by the conversion id over those bounded
    pairs; the day rollup is one map-side-combined tiny aggregate.
    """
    if window_s <= 0:
        raise ValueError(f"window_s must be positive, got {window_s}")
    pairs = _attribution_pairs(
        events,
        value_micro,
        convert_type=convert_type,
        touch_type=touch_type,
        window_s=window_s,
        ts_col=ts_col,
        key=key,
        seq_col=seq_col,
        caller="multi_touch_attribution",
    )
    cw = Window.partitionBy("__cid")
    rw = Window.partitionBy("__cid").orderBy(F.asc("__t_us"), F.asc("__tid"))
    credited = (
        pairs.withColumn("__k_n", F.count(F.lit(1)).over(cw))
        .withColumn("__r", F.row_number().over(rw))
        .select(
            "__t_ts",
            F.expr(
                "CAST(__v div __k_n + CASE WHEN __r <= __v % __k_n "
                "THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("__credit"),
        )
    )
    return credited.groupBy(
        F.date_format(F.to_date("__t_ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("__credit").alias("credit_micro"),
    )


def position_attribution(
    events: DataFrame,
    value_micro: Column,
    *,
    convert_type: str = "purchase",
    touch_type: str = "click",
    window_s: int = 259_200,
    ts_col: str = "ts",
    key: str = "user_id",
    seq_col: str = "event_id",
) -> DataFrame:
    """POSITION-BASED (U-shape) multi-touch attribution — the 40/20/40
    budget model: the FIRST touch (journey opener) and the LAST touch
    (closer) each take 40% of a conversion's value, the middle touches
    split the remaining 20% equally. Completes the attribution ladder
    next to last-touch (:func:`attribution_report`) and linear
    (:func:`multi_touch_attribution`); same bounded pair join
    (:func:`_attribution_pairs`), different credit expression.

    Exact integer credit (sums EXACTLY to V per conversion):

    * k = 1: the single touch takes V.
    * k = 2: ``V div 2`` each, remainder micro to the FIRST touch
      (the empty middle pool renormalizes 40/40 to an exact half
      split — the standard degenerate-U convention).
    * k ≥ 3: first = last = ``(V*2) div 5`` (exactly 40% when V is
      divisible by 5); the middle pool M = V − first − last absorbs
      the 40%-rounding remainder, each middle takes ``M div (k−2)``
      plus 1 extra micro to the earliest middles in (touch ts asc,
      touch seq asc) order. The ``V*2`` product routes through
      DECIMAL(38,0) (ADVICE r14 — the time-decay/bm25 exact-rational
      pattern): a V above 2⁶² micro would silently wrap in non-ANSI
      BIGINT while the DuckDB oracle raises, the exact cross-engine
      divergence class the convention forbids. (M = V − 2·share stays
      BIGINT: share ≤ 2V/5, so the subtraction is in-range.)

    Matched failures and the guard's participating-type scope are
    :func:`_attribution_pairs`'s, raised under this model's name.

    Shape (100 TB): identical to the linear model — the pair join is
    user-key-bounded, the rank/count windows partition by conversion
    id over those bounded pairs, the day rollup is one tiny map-side-
    combined aggregate. Returns (day, n_touches, credit_micro).
    """
    pairs = _attribution_pairs(
        events,
        value_micro,
        convert_type=convert_type,
        touch_type=touch_type,
        window_s=window_s,
        ts_col=ts_col,
        key=key,
        seq_col=seq_col,
        caller="position_attribution",
    )
    cw = Window.partitionBy("__cid")
    rw = Window.partitionBy("__cid").orderBy(F.asc("__t_us"), F.asc("__tid"))
    credited = (
        pairs.withColumn("__k_n", F.count(F.lit(1)).over(cw))
        .withColumn("__r", F.row_number().over(rw))
        # the 40% endpoint share: V*2 in DECIMAL(38,0), never BIGINT
        .withColumn(
            "__u40",
            F.expr("CAST(CAST(__v AS DECIMAL(38,0)) * 2 div 5 AS BIGINT)"),
        )
        .select(
            "__t_ts",
            F.expr(
                "CAST(CASE "
                "WHEN __k_n = 1 THEN __v "
                "WHEN __k_n = 2 THEN __v div 2 "
                "  + CASE WHEN __r = 1 THEN __v % 2 ELSE 0 END "
                "WHEN __r = 1 OR __r = __k_n THEN __u40 "
                "ELSE (__v - 2 * __u40) div (__k_n - 2) "
                "  + CASE WHEN __r - 1 <= "
                "      (__v - 2 * __u40) % (__k_n - 2) "
                "    THEN 1 ELSE 0 END "
                "END AS BIGINT)"
            ).alias("__credit"),
        )
    )
    return credited.groupBy(
        F.date_format(F.to_date("__t_ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("__credit").alias("credit_micro"),
    )


def time_decay_attribution(
    events: DataFrame,
    value_micro: Column,
    *,
    half_life_s: int = 86_400,
    convert_type: str = "purchase",
    touch_type: str = "click",
    window_s: int = 259_200,
    ts_col: str = "ts",
    key: str = "user_id",
    seq_col: str = "event_id",
) -> DataFrame:
    """TIME-DECAY multi-touch attribution — recent touches earn more:
    each in-window touch weighs ``2^(−age/half_life)`` of a
    conversion's value, normalized per conversion. The third credit
    model on :func:`_attribution_pairs`'s bounded pair join.

    Exact integer weights via the events_trending bit-shift pattern
    (engine-exact: ``>>`` in DuckDB == ``shiftright`` in Spark on
    non-negative BIGINTs): ``w = 1_000_000 >> least(age_us div
    half_life_us, 19)`` — the STEPPED exponential (floor of elapsed
    half-lives), one integer op, no transcendental. Credits are
    ``V·w div W`` (W = Σw per conversion) in DECIMAL(38,0) — the
    bm25 exact-rational pattern, so an over-BIGINT product cannot
    silently wrap — plus 1 extra micro to the first ``V − Σ base``
    touches in (touch ts DESC, touch seq asc) order (most-recent-first
    — the model's own bias direction), so credit sums EXACTLY to V
    per conversion.

    Matched failures and the guard's participating-type scope are
    :func:`_attribution_pairs`'s, raised under this model's name;
    a non-positive half_life raises at plan-build time.

    Shape (100 TB): identical to the linear model — user-key-bounded
    pair join, two same-exchange windows over the conversion id, one
    tiny day rollup. Returns (day, n_touches, credit_micro).
    """
    if half_life_s <= 0:
        raise ValueError(f"half_life_s must be positive, got {half_life_s}")
    pairs = _attribution_pairs(
        events,
        value_micro,
        convert_type=convert_type,
        touch_type=touch_type,
        window_s=window_s,
        ts_col=ts_col,
        key=key,
        seq_col=seq_col,
        caller="time_decay_attribution",
    )
    hl_us = int(half_life_s) * 1_000_000
    cw = Window.partitionBy("__cid")
    rw = Window.partitionBy("__cid").orderBy(
        F.desc("__t_us"), F.asc("__tid")
    )
    weighted = pairs.withColumn(
        "__w",
        F.expr(
            f"shiftright(CAST(1000000 AS BIGINT), "
            f"CAST(least((__c_us - __t_us) div {hl_us}, 19) AS INT))"
        ),
    )
    based = (
        weighted.withColumn("__wsum", F.sum("__w").over(cw))
        .withColumn(
            "__base",
            F.expr(
                "CAST(CAST(__v AS DECIMAL(38,0)) * __w div __wsum "
                "AS BIGINT)"
            ),
        )
        .withColumn("__rem", F.col("__v") - F.sum("__base").over(cw))
        .withColumn("__rn", F.row_number().over(rw))
    )
    credited = based.select(
        "__t_ts",
        F.expr(
            "__base + CASE WHEN __rn <= __rem THEN 1 ELSE 0 END"
        ).alias("__credit"),
    )
    return credited.groupBy(
        F.date_format(F.to_date("__t_ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("__credit").alias("credit_micro"),
    )


def markov_removal_fit(
    transitions: list[tuple[str, str, int]],
    total_value_micro: int,
) -> dict[str, tuple[int, int]]:
    """Absorbing-chain REMOVAL-EFFECT solve (Anderl et al. 2014,
    "Mapping the Customer Journey") — the pure-python fitter both
    engines share (the PAVA/WoE/DSIR driver-pinning treatment): exact
    ``Fraction`` arithmetic end to end, so the pinned literals agree by
    construction regardless of either engine's float stack.

    ``transitions``: (src, dst, n) counts with src ∈ {'START'} ∪
    channels and dst ∈ channels ∪ {'CONV', 'NULL'} (CONV/NULL are the
    absorbing conversion / journey-abandoned states). For each channel
    c, the removal effect is ``1 − P(conv | c's inbound mass redirected
    to NULL) / P(conv)`` — how much of the conversion probability dies
    with the channel. Redirection keeps every row-total intact, so
    removal can only LOSE conversion mass (effects are non-negative by
    construction).

    Credits: ``total_value_micro`` splits ∝ removal effect — base =
    ``V·re_c div Σre`` (floored in exact rationals), the remainder
    micros going to the largest effects first (effect desc, channel
    asc), so credit sums EXACTLY to V whenever any effect is positive.

    Returns {channel: (removal_ppm, credit_micro)} for every channel
    seen in the transitions (removal_ppm = round-half-up parts-per-
    million of the removal effect).
    """
    from fractions import Fraction

    counts: dict[tuple[str, str], int] = {}
    for src, dst, n in transitions:
        counts[(src, dst)] = counts.get((src, dst), 0) + int(n)
    channels = sorted(
        {s for s, _ in counts if s != "START"}
        | {d for _, d in counts if d not in ("CONV", "NULL")}
    )
    row_tot = {
        s: sum(n for (src, _), n in counts.items() if src == s)
        for s in ["START"] + channels
    }

    def p_conv(removed: str | None) -> Fraction:
        """P(absorb in CONV | start at START) with ``removed``'s inbound
        mass redirected to NULL: solve (I − Q)x = b over the transient
        states by exact-Fraction Gaussian elimination (≤ channels+1
        unknowns — driver-trivial)."""
        sts = ["START"] + [c for c in channels if c != removed]
        idx = {s: i for i, s in enumerate(sts)}
        n = len(sts)
        A = [[Fraction(0)] * n for _ in range(n)]
        b = [Fraction(0)] * n
        for s, i in idx.items():
            A[i][i] = Fraction(1)
            tot = row_tot.get(s, 0)
            if tot == 0:
                continue  # no outgoing mass: absorbs to NULL, x_s = 0
            for (src, dst), cnt in counts.items():
                if src != s:
                    continue
                p = Fraction(cnt, tot)
                if dst == "CONV":
                    b[i] += p
                elif dst in idx:  # transient and not removed
                    A[i][idx[dst]] -= p
                # dst == NULL or == removed: mass dies, contributes 0
        # Gaussian elimination, exact fractions, pivot on any non-zero
        for col in range(n):
            piv = next(
                (r for r in range(col, n) if A[r][col] != 0), None
            )
            if piv is None:
                raise ValueError(
                    "markov_removal_fit: singular transient system — "
                    "the observed chain is not absorbing"
                )
            A[col], A[piv] = A[piv], A[col]
            b[col], b[piv] = b[piv], b[col]
            inv = A[col][col]
            for r in range(n):
                if r == col or A[r][col] == 0:
                    continue
                f = A[r][col] / inv
                for c2 in range(col, n):
                    A[r][c2] -= f * A[col][c2]
                b[r] -= f * b[col]
        return b[idx["START"]] / A[idx["START"]][idx["START"]]

    base_p = p_conv(None)
    effects = {}
    for c in channels:
        if base_p == 0:
            effects[c] = Fraction(0)
        else:
            effects[c] = max(Fraction(0), 1 - p_conv(c) / base_p)
    tot_e = sum(effects.values(), Fraction(0))
    v = int(total_value_micro)
    out: dict[str, tuple[int, int]] = {}
    base_credit = {}
    for c in channels:
        ppm = (2 * effects[c].numerator * 1_000_000 + effects[c].denominator) // (
            2 * effects[c].denominator
        )
        if tot_e == 0:
            base_credit[c] = 0
        else:
            share = effects[c] / tot_e
            base_credit[c] = (v * share.numerator) // share.denominator
        out[c] = (int(ppm), int(base_credit[c]))
    if tot_e != 0:
        rem = v - sum(base_credit.values())
        for c in sorted(channels, key=lambda c: (-effects[c], c)):
            if rem <= 0:
                break
            out[c] = (out[c][0], out[c][1] + 1)
            rem -= 1
    return out


def _checked_journey_events(
    events: DataFrame,
    value_micro: Column,
    *,
    model: str,
    convert_type: str,
    ts_col: str,
    key: str,
    seq_col: str,
) -> DataFrame:
    """The checked event projection the journey-chain credit models
    (Markov removal-effect, Shapley) share: NULL key/ts/seq on ANY row
    raises under ``model``'s name (every event participates in a
    journey — there is no non-participating type), NULL or NEGATIVE
    conversion value raises (credit splitting is undefined for
    refunds). Emits (__k, __us, __seq, __et, __v, __c)."""
    key_checked = F.when(
        F.col(key).isNull()
        | F.col(ts_col).isNull()
        | F.col(seq_col).isNull(),
        F.raise_error(
            F.lit(
                f"{model}: NULL {key}/{ts_col}/"
                f"{seq_col} — the event feed is corrupt"
            )
        ),
    ).otherwise(F.col(key))
    v_checked = (
        F.when(
            value_micro.isNull(),
            F.raise_error(
                F.lit(f"{model}: NULL conversion value")
            ),
        )
        .when(
            value_micro < 0,
            F.raise_error(
                F.lit(
                    f"{model}: negative conversion "
                    "value — journey credit cannot split refunds"
                )
            ),
        )
        .otherwise(value_micro)
    )
    is_conv = F.col("event_type") == convert_type
    return events.select(
        key_checked.alias("__k"),
        F.unix_micros(ts_col).alias("__us"),
        F.col(seq_col).alias("__seq"),
        F.col("event_type").alias("__et"),
        F.when(is_conv, v_checked).otherwise(F.lit(0)).alias("__v"),
        is_conv.cast("int").alias("__c"),
    )


def _markov_event_chain(
    events: DataFrame,
    value_micro: Column,
    *,
    convert_type: str,
    ts_col: str,
    key: str,
    seq_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The distributed half of :func:`removal_effect_attribution`:
    checked projection, journey windows on ONE user-key exchange, the
    in-row transition explode, and the states²-bounded count aggregate.
    Split out so the plan pin can assert the transition plan's shape
    directly (tests/test_plans.py) now that the production path
    unpersists the table eagerly. Returns ``(ev, trans)`` — the checked
    event projection (for the ΣV aggregate) and the UNpersisted
    (__src, __dst, __n) transition counts."""
    ev = _checked_journey_events(
        events,
        value_micro,
        model="removal_effect_attribution",
        convert_type=convert_type,
        ts_col=ts_col,
        key=key,
        seq_col=seq_col,
    )
    w = Window.partitionBy("__k").orderBy(F.asc("__us"), F.asc("__seq"))
    # journey id = # prior conversions (exclusive): a conversion row is
    # the LAST row of its own journey. Two-step projection (a window
    # function cannot nest inside lag/lead): __jid materializes first,
    # then lag/lead read it over the SAME (key → us, seq) window spec —
    # Catalyst stacks the Window operators on one exchange+sort.
    base = ev.withColumn("__jid", F.sum("__c").over(w) - F.col("__c"))
    rows = base.select(
        "__et",
        "__c",
        "__v",
        "__jid",
        F.lag("__et").over(w).alias("__pet"),
        F.lag("__jid").over(w).alias("__pjid"),
        F.lead("__jid").over(w).alias("__njid"),
    )
    src = F.when(
        F.col("__pet").isNull() | (F.col("__pjid") != F.col("__jid")),
        F.lit("START"),
    ).otherwise(F.col("__pet"))
    dst = F.when(F.col("__c") == 1, F.lit("CONV")).otherwise(F.col("__et"))
    step = F.struct(src.alias("src"), dst.alias("dst"))
    # terminal NULL: a non-conversion row with no successor in its
    # journey abandons there — emitted as a SECOND element of the same
    # row's transition array (one explode, one branch, so the window's
    # user-key exchange is paid exactly once; a steps/tails self-union
    # would plan the window twice and lean on ReusedExchange)
    tail = F.struct(
        F.col("__et").alias("src"), F.lit("NULL").alias("dst")
    )
    is_tail = (F.col("__c") == 0) & (
        F.col("__njid").isNull() | (F.col("__njid") != F.col("__jid"))
    )
    pairs = rows.select(
        F.explode(
            F.when(is_tail, F.array(step, tail)).otherwise(F.array(step))
        ).alias("__t")
    ).select(
        F.col("__t.src").alias("__src"), F.col("__t.dst").alias("__dst")
    )
    trans = pairs.groupBy("__src", "__dst").agg(F.count(F.lit(1)).alias("__n"))
    return ev, trans


def removal_effect_attribution(
    events: DataFrame,
    value_micro: Column,
    *,
    convert_type: str = "purchase",
    ts_col: str = "ts",
    key: str = "user_id",
    seq_col: str = "event_id",
) -> DataFrame:
    """MARKOV-CHAIN (removal-effect) attribution — the data-driven rung
    above the heuristic ladder (last-touch → linear → position → decay):
    instead of ASSERTING a credit curve, measure each channel's causal
    weight as the conversion probability that dies when the channel is
    removed from the observed first-order journey chain, then split the
    total conversion value ∝ those removal effects.

    Journey construction (both engines replay it identically): per
    user, events order by (event-time µs, ``seq_col``); a journey ends
    at each ``convert_type`` row (absorbing CONV — the running count of
    PRIOR conversions is the journey id) or at the user's last event
    (absorbing NULL); every non-conversion event is a channel state;
    START opens every journey. Transition counts are a
    (channels+1)×(channels+2)-bounded table.

    Engine-exactness: the chain solve runs ONCE driver-side in exact
    ``Fraction`` arithmetic (:func:`markov_removal_fit` — the
    PAVA/WoE/DSIR driver-pinning treatment) on the Spark-computed
    integer transition counts, and the fitted (removal_ppm,
    credit_micro) re-enter the plan as literals; credits sum EXACTLY
    to the guarded ΣV. No float touches any hashed value.

    Matched failures: NULL ``key``/``ts_col``/``seq_col`` on ANY row
    raises (every event participates in the chain — unlike the
    windowed pair models there is no non-participating type); NULL or
    NEGATIVE conversion value raises (credit splitting is undefined
    for refunds, and div-vs-floor diverges across engines).

    Shape (100 TB): ONE user-keyed exchange carries every window (the
    journey id is a running conversion count over the same (key →
    ts, seq) sort the lag/lead transitions read — lag/lead null out at
    journey boundaries instead of repartitioning by (key, journey));
    the transition aggregate is map-side combined into a states²
    table, persisted only for the duration of the collect and
    unpersisted eagerly (ADVICE r15: the table used to sit in the
    shared cache registry and a clear between build and consumption
    would have silently recomputed the feed lineage). The solve AND
    the per-channel touch counts both come from the ONE collected
    states² row set, so the returned DataFrame is pure literals — no
    live dependence on any cache. Returns (channel, n_touches,
    removal_ppm, credit_micro) — one row per channel.
    """
    ev, trans = _markov_event_chain(
        events,
        value_micro,
        convert_type=convert_type,
        ts_col=ts_col,
        key=key,
        seq_col=seq_col,
    )
    trans = trans.persist()
    try:
        t_rows = [
            (r["__src"], r["__dst"], int(r["__n"])) for r in trans.collect()
        ]
        v_total = int(
            ev.agg(F.coalesce(F.sum("__v"), F.lit(0)).alias("v")).collect()[
                0
            ]["v"]
        )
    finally:
        try:
            trans.unpersist()
        except Exception:
            pass
    fit = markov_removal_fit(t_rows, v_total)
    # n_touches(channel) = Σ step transitions INTO the channel (every
    # non-conversion row contributes exactly one such step; tails carry
    # dst = NULL so they never count) — folded driver-side from the
    # SAME collected rows the fit consumed, so output and fit can never
    # disagree about the table they read
    n_touches: dict[str, int] = {}
    for _, dst, n in t_rows:
        if dst not in ("CONV", "NULL"):
            n_touches[dst] = n_touches.get(dst, 0) + n
    out_rows = [
        (c, n_touches[c], ppm, cr)
        for c, (ppm, cr) in sorted(fit.items())
        if c in n_touches
    ]
    return events.sparkSession.createDataFrame(
        out_rows,
        "channel string, n_touches long, removal_ppm long, credit_micro long",
    )


#: coalition-lattice bound for the exact Shapley solve: 2^16 = 65,536
#: coalitions is driver-trivial; more channels than this in one event
#: feed means the "channel" column is mis-modeled (the states² argument
#: pinned in removal_effect_attribution's docstring)
MAX_SHAPLEY_CHANNELS = 16


def shapley_fit(
    sets: list[tuple[tuple[str, ...], int, int]],
) -> dict[str, tuple[int, int]]:
    """Exact SHAPLEY-VALUE solve over the journey channel-set game —
    the credit ladder's theoretical top rung (Shapley 1953; applied to
    attribution as in Zhao et al. 2018, "Shapley Value Methods for
    Attribution Modeling in Online Advertising"): the pure-python
    fitter both engines share (the markov/PAVA/WoE driver-pinning
    treatment), exact ``Fraction`` arithmetic end to end.

    ``sets``: one row per DISTINCT observed journey channel set —
    (sorted channel tuple, n_journeys, value_micro_sum) for CONVERTING
    journeys with a nonempty set. The characteristic function is the
    cumulative-subset game ``v(S) = Σ value of journeys whose set ⊆
    S`` — monotone by construction (credits can never go negative) and
    efficient: Σφ = v(N) = the total attributable value, EXACTLY.

    The solve runs the general coalition formula — a subset-sum (zeta)
    transform builds v over the full 2^n lattice, then
    ``φ_i = Σ_{S∌i} |S|!(n−|S|−1)!/n! · (v(S∪i) − v(S))`` in exact
    Fractions — bounded by :data:`MAX_SHAPLEY_CHANNELS`. For THIS
    ``v`` the Harsanyi dividends are the per-set values, so φ has the
    closed form Σ_{T∋i} value(T)/|T|; the unit tests pin the general
    solve against that identity (a full cross-check of the lattice
    arithmetic), and the general path is what keeps a different ``v``
    (exact-set rate games) a drop-in.

    Credits: base = floor(φ_i) micro-units, the remainder micros going
    to the largest φ first (φ desc, channel asc — the
    markov_removal_fit rule), so credit sums EXACTLY to v(N). Returns
    {channel: (share_ppm, credit_micro)} with share_ppm =
    round-half-up parts-per-million of φ_i / v(N).
    """
    from fractions import Fraction
    from math import factorial

    chs: set[str] = set()
    seen: set[tuple[str, ...]] = set()
    for t, n_j, w in sets:
        tt = tuple(t)
        if tt != tuple(sorted(set(tt))) or not tt:
            raise ValueError(
                f"shapley_fit: set {tt!r} must be a sorted nonempty "
                "tuple of distinct channels"
            )
        if tt in seen:
            raise ValueError(f"shapley_fit: duplicate set {tt!r}")
        seen.add(tt)
        if n_j < 1 or w < 0:
            raise ValueError(f"shapley_fit: bad set row ({tt!r}, {n_j}, {w})")
        chs.update(tt)
    channels = sorted(chs)
    n = len(channels)
    if n == 0:
        return {}
    if n > MAX_SHAPLEY_CHANNELS:
        raise ValueError(
            f"shapley_fit: {n} channels exceed MAX_SHAPLEY_CHANNELS "
            f"({MAX_SHAPLEY_CHANNELS}) — the 2^n coalition lattice is "
            "no longer driver-trivial; the channel column is "
            "mis-modeled"
        )
    idx = {c: i for i, c in enumerate(channels)}
    # dividends w[mask] = value of journeys with EXACTLY that set
    w_mask = [0] * (1 << n)
    for t, _, w in sets:
        m = 0
        for c in t:
            m |= 1 << idx[c]
        w_mask[m] += int(w)
    # zeta transform: v[S] = Σ_{T ⊆ S} w[T]
    v = list(w_mask)
    for i in range(n):
        bit = 1 << i
        for m in range(1 << n):
            if m & bit:
                v[m] += v[m ^ bit]
    fact = [factorial(i) for i in range(n + 1)]
    phi = [Fraction(0)] * n
    for m in range(1 << n):
        s = bin(m).count("1")
        coef = Fraction(fact[s] * fact[n - s - 1], fact[n])
        for i in range(n):
            bit = 1 << i
            if not m & bit:
                phi[i] += coef * (v[m | bit] - v[m])
    total = v[(1 << n) - 1]
    assert sum(phi, Fraction(0)) == total  # efficiency — exact by construction
    out: dict[str, tuple[int, int]] = {}
    base_credit: dict[str, int] = {}
    for i, c in enumerate(channels):
        if total == 0:
            ppm = 0
            base_credit[c] = 0
        else:
            share = phi[i] / total
            ppm = (2 * share.numerator * 1_000_000 + share.denominator) // (
                2 * share.denominator
            )
            base_credit[c] = phi[i].numerator // phi[i].denominator
        out[c] = (int(ppm), base_credit[c])
    rem = total - sum(base_credit.values())
    for c in sorted(channels, key=lambda c: (-phi[idx[c]], c)):
        if rem <= 0:
            break
        out[c] = (out[c][0], out[c][1] + 1)
        rem -= 1
    return out


def shapley_attribution(
    events: DataFrame,
    value_micro: Column,
    *,
    convert_type: str = "purchase",
    ts_col: str = "ts",
    key: str = "user_id",
    seq_col: str = "event_id",
) -> DataFrame:
    """SHAPLEY-VALUE attribution (VERDICT r15 #4) — the credit
    ladder's theoretical top rung, above Markov removal-effect: each
    channel's credit is its exact Shapley value in the cooperative
    game over per-journey channel SETS, the unique allocation
    satisfying efficiency / symmetry / dummy / additivity.

    Journey construction replays :func:`removal_effect_attribution`'s
    exactly (per user, order by (event-time µs, ``seq_col``); journey
    id = running count of PRIOR conversions; a journey converts iff it
    ends at a ``convert_type`` row). Each CONVERTING journey
    contributes its conversion value to its sorted DISTINCT set of
    non-conversion channels; direct conversions (empty set) are
    structurally unattributable and enter no game — same as every rung
    of the heuristic ladder, where a conversion with no prior touch
    yields no credit rows.

    Engine-exactness: the 2^channels-bounded game solves ONCE
    driver-side in exact Fractions (:func:`shapley_fit` — the
    markov/PAVA/WoE driver-pinning treatment) on the Spark-computed
    integer set table; credits sum EXACTLY to the attributable ΣV via
    the remainder rule, and the output is PURE LITERALS (the ADVICE
    r15 posture — no live cache dependence).

    Matched failures: NULL ``key``/``ts_col``/``seq_col`` on ANY row
    raises; NULL or NEGATIVE conversion value raises; >
    :data:`MAX_SHAPLEY_CHANNELS` distinct channels raises in the fit.

    Shape (100 TB): ONE user-keyed exchange carries the journey
    window AND the per-journey set fold (the (key, journey) groupBy
    rides the window's hash partitioning — partitioning by key
    satisfies the (key, jid) clustered distribution, so no second
    big exchange); the set aggregate is map-side combined into a
    ≤ 2^channels table; the solve is driver-side over that tiny
    collect. Returns (channel, n_journeys, share_ppm, credit_micro)
    — n_journeys = converting journeys whose set contains the
    channel, folded from the SAME collected rows the fit consumed.
    """
    ev = _checked_journey_events(
        events,
        value_micro,
        model="shapley_attribution",
        convert_type=convert_type,
        ts_col=ts_col,
        key=key,
        seq_col=seq_col,
    )
    sets_df = _shapley_journey_sets(ev)
    s_rows = [
        (tuple(r["__chs"]), int(r["__n"]), int(r["__w"]))
        for r in sets_df.collect()
    ]
    fit = shapley_fit(s_rows)
    n_journeys: dict[str, int] = {}
    for t, n_j, _ in s_rows:
        for c in t:
            n_journeys[c] = n_journeys.get(c, 0) + n_j
    out_rows = [
        (c, n_journeys[c], ppm, cr) for c, (ppm, cr) in sorted(fit.items())
    ]
    return events.sparkSession.createDataFrame(
        out_rows,
        "channel string, n_journeys long, share_ppm long, credit_micro long",
    )


def _shapley_journey_sets(ev: DataFrame) -> DataFrame:
    """The distributed half of :func:`shapley_attribution` (split out
    for the plan pin, like `_markov_event_chain`): journey window on
    ONE user-key exchange, the exchange-free per-journey fold, and the
    ≤ 2^channels set aggregate. Returns (__chs, __n, __w) for
    converting journeys with nonempty channel sets."""
    w = Window.partitionBy("__k").orderBy(F.asc("__us"), F.asc("__seq"))
    base = ev.withColumn("__jid", F.sum("__c").over(w) - F.col("__c"))
    j = base.groupBy("__k", "__jid").agg(
        F.sort_array(
            F.array_distinct(
                F.collect_list(F.when(F.col("__c") == 0, F.col("__et")))
            )
        ).alias("__chs"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 1, F.col("__v"))), F.lit(0)
        ).alias("__v"),
        F.max("__c").alias("__conv"),
    )
    return (
        j.where((F.col("__conv") == 1) & (F.size("__chs") > 0))
        .groupBy("__chs")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__v").alias("__w"),
        )
    )


def session_exposure_outcome(
    events: DataFrame,
    *,
    exposure_type: str = "view",
    outcome_type: str = "purchase",
    gap_sec: int = 1800,
    key: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    salt: str = "srm",
) -> DataFrame:
    """SESSIONIZED A/B exposure analysis (VERDICT r15 #8b) — the join
    of the experiment family to the session family: units hash-split
    into variants by the repo's deterministic md5 assignment (the
    srm/cuped split, same salt default so the SAME split replays), and
    the metric is EXPOSURE-TO-OUTCOME WITHIN SESSION BOUNDS — a
    session converts iff it contains an ``outcome_type`` event
    STRICTLY AFTER its first ``exposure_type`` event, both inside the
    same gap-merged session. This is the attribution-hygiene readout a
    raw per-user conversion rate cannot express: an outcome in a later
    session (or before the exposure) is not credited to the exposure.

    Session rule: ``gap >= gap_sec`` opens a new session (the
    session_paths / streaming session_window convention — a strict
    timeout), with the gap measured in exact integer MICROSECONDS
    (``unix_micros``), so no double arithmetic touches the boundary.
    Event order inside a session is (event-time µs, ``seq_col``) via
    native struct comparison — "strictly after" is exact
    lexicographic integer comparison in both engines.

    Matched failures: NULL ``key``/``ts_col``/``seq_col`` on ANY row
    raises (every event participates in sessionization).

    Shape (100 TB): ONE user-keyed window exchange carries the session
    assignment AND the per-(user, session) fold (the groupBy rides the
    window's hash partitioning — the shapley/markov movement); the
    per-variant rollup is a 2-row aggregate. Returns (variant,
    n_sessions, n_exposed, n_converted, conv_pm) where conv_pm =
    round_half_up(1000 · converted / exposed) (0 when no exposed
    sessions).
    """
    key_checked = F.when(
        F.col(key).isNull() | F.col(ts_col).isNull() | F.col(seq_col).isNull(),
        F.raise_error(
            F.lit(
                f"session_exposure_outcome: NULL {key}/{ts_col}/{seq_col} "
                "— the event feed is corrupt"
            )
        ),
    ).otherwise(F.col(key))
    ev = events.select(
        key_checked.alias("__k"),
        F.unix_micros(ts_col).alias("__us"),
        F.col(seq_col).alias("__seq"),
        F.col("event_type").alias("__et"),
    )
    w = Window.partitionBy("__k").orderBy(F.asc("__us"), F.asc("__seq"))
    gap = F.col("__us") - F.lag("__us").over(w)
    sess = ev.withColumn(
        "__new", F.when(gap.isNull() | (gap >= gap_sec * 1_000_000), 1).otherwise(0)
    ).withColumn(
        "__sid",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    pos = F.struct(F.col("__us").alias("us"), F.col("__seq").alias("seq"))
    per_sess = sess.groupBy("__k", "__sid").agg(
        F.min(F.when(F.col("__et") == exposure_type, pos)).alias("__exp"),
        F.max(F.when(F.col("__et") == outcome_type, pos)).alias("__out"),
    )
    variant = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("#", F.col("__k").cast("string"), F.lit(salt))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    flagged = per_sess.select(
        variant.alias("variant"),
        F.col("__exp").isNotNull().cast("long").alias("__e"),
        (
            F.col("__exp").isNotNull()
            & F.col("__out").isNotNull()
            & (F.col("__out") > F.col("__exp"))
        ).cast("long").alias("__c"),
    )
    agg = flagged.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("__e").alias("n_exposed"),
        F.sum("__c").alias("n_converted"),
    )
    return agg.select(
        "variant",
        "n_sessions",
        "n_exposed",
        "n_converted",
        F.when(F.col("n_exposed") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST((2 * 1000 * n_converted + n_exposed)"
                " div (2 * n_exposed) AS BIGINT)"
            )
        )
        .alias("conv_pm"),
    )


def cuped_adjusted(
    events: DataFrame,
    *,
    split_ts: str,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    salt: str = "cuped",
    unit: int = 1_000_000,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments") — the
    standard A/B analysis adjustment: each user's post-period metric y
    is shifted by θ·(x − x̄) where x is the PRE-period metric and θ =
    cov(x, y)/var(x), removing the between-user variance x explains.
    Users split into variants by the repo's deterministic md5 hash of
    ``user || '#' || salt`` (mod 2) — the same salted-hash assignment
    the sampling family uses, so the split replays anywhere.

    Engine-exactness: per-event values quantize to integer micro-units
    BEFORE any sum; per-user x/y are exact long sums; the pooled
    moments Σx, Σy, Σxy, Σxx accumulate as DECIMAL(38,0) with operands
    cast to DECIMAL(19,0) before multiplying (the ols_trend/value-trend
    precedent) — order-proof exact integers. θ and the adjusted means
    are doubles derived from those exact operands with an expression
    tree mirrored verbatim in the oracle, then rounded to 6dp — no
    transcendental anywhere, so no libm exposure.

    Physical shape (100 TB): ONE user-keyed aggregate with conditional
    sums (map-side combinable) builds the (user, x, y) table; the
    pooled moments are a tiny aggregate of it and come back as a
    broadcast scalar row; the per-variant rollup is a 2-group
    aggregate. Catalyst's ReuseExchange shares the user aggregate's
    shuffle between the moments and rollup branches.

    Returns (variant, n_users, mean_y, mean_adj, theta) — means in
    ``value`` units rounded to 6dp; variance reduction shows as
    mean_adj's tighter spread across reruns of a null experiment.
    """
    vq = F.floor(F.col(value_col) * F.lit(float(unit)) + F.lit(0.5)).cast("long")
    pre = F.when(F.col(ts_col) < F.lit(split_ts).cast("timestamp"), vq).otherwise(
        F.lit(0)
    )
    post = F.when(F.col(ts_col) >= F.lit(split_ts).cast("timestamp"), vq).otherwise(
        F.lit(0)
    )
    variant = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("u").cast("string"), F.lit(f"#{salt}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    users = (
        events.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.sum(pre).alias("x"), F.sum(post).alias("y"))
        .withColumn("variant", variant)
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    moments = users.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
    )
    n_d = F.col("n_all").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sxy_d = F.col("sxy").cast("double")
    var_x = n_d * sxx_d - sx_d * sx_d
    theta = F.when(var_x != F.lit(0.0), (n_d * sxy_d - sx_d * sy_d) / var_x).otherwise(
        F.lit(0.0)
    )
    per_variant = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(xd).alias("vx"),
        F.sum(yd).alias("vy"),
    )
    mean_y = F.col("vy").cast("double") / F.col("n_users").cast("double")
    mean_x = F.col("vx").cast("double") / F.col("n_users").cast("double")
    mean_x_all = sx_d / n_d
    scale = F.lit(float(unit))
    return (
        per_variant.crossJoin(F.broadcast(moments))
        .select(
            "variant",
            "n_users",
            F.round(mean_y / scale, 6).alias("mean_y"),
            F.round((mean_y - theta * (mean_x - mean_x_all)) / scale, 6).alias(
                "mean_adj"
            ),
            F.round(theta, 6).alias("theta"),
        )
    )


def rank_quantile(
    df: DataFrame,
    stratum: str,
    order_cols: list,
    *,
    buckets: int = 10,
    bucket_col: str = "q_bucket",
) -> DataFrame:
    """Within-stratum rank-quantile normalization — the fairness
    transform a curation pipeline applies before thresholding a score
    across heterogeneous sources: each source's own score distribution
    maps onto the same 0..buckets-1 grid, so "keep every source's top
    30%" is well-defined even when one source scores systematically
    higher than another (a GLOBAL threshold would empty the weaker
    source — the classic mixture-collapse failure).

    Exactness: the bucket is pure integer arithmetic on the within-
    stratum rank — ``q_bucket = ((rk − 1) · buckets) div n`` — so as
    long as the ordering key is engine-exact (the repo's scores are;
    callers must include a unique tiebreak column), the assignment is
    bit-identical everywhere and NEVER depends on an engine percentile
    function (the repo's standing rule for percentile-style cuts).

    Shape: ONE stratum-keyed exchange shared by the rank window and the
    stratum-count window (same partitioning). Returns the input plus
    (src_rank, n_stratum, ``bucket_col``).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    reserved = {"src_rank", "n_stratum", bucket_col}
    if bad := reserved.intersection(df.columns):
        raise ValueError(f"input columns collide with outputs: {sorted(bad)}")
    w = Window.partitionBy(stratum).orderBy(*order_cols)
    return (
        df.withColumn("src_rank", F.row_number().over(w))
        .withColumn(
            "n_stratum", F.count(F.lit(1)).over(Window.partitionBy(stratum))
        )
        .withColumn(
            bucket_col,
            F.expr(f"((src_rank - 1) * {int(buckets)}) div n_stratum").cast("int"),
        )
    )


def retention_cohorts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain_days: int = 7,
) -> DataFrame:
    """Cohort retention triangle — the growth-analytics staple: users
    are grouped by the period of their FIRST activity (the cohort) and
    each cohort's share of still-active users is read at every later
    period offset. ``grain_days`` picks the period (7 = weekly cohorts
    on Monday-truncated weeks, 1 = daily).

    Exactness: periods are date-trunc'd calendar anchors rendered as
    ISO date strings, offsets are integer day-differences floor-divided
    by the grain, and the retained share is integer per-mille
    ``(1000 · active) div cohort_size`` — no float ratio anywhere, so
    every engine replays the table bit-identically.

    Shape (100 TB): ONE user-keyed exchange computes both the cohort
    (min period) and the user's distinct-period set in the same
    aggregate — ``collect_set`` state is bounded by periods-per-user,
    i.e. the calendar length of the corpus at weekly grain, NOT by the
    user's event count — then the exploded (cohort, offset) pairs fold
    through one map-side-combined count whose output is bounded by
    cohorts × offsets. The cohort size is recovered from the offset-0
    row (every user is active in their own cohort period by
    construction) via a window over that tiny result, never a re-join
    against the raw events.

    Returns (cohort, period_offset, active_users, cohort_size,
    retained_pm) with ``cohort`` an ISO yyyy-MM-dd string.
    """
    if grain_days not in (1, 7):
        raise ValueError(f"grain_days must be 1 or 7, got {grain_days}")
    trunc = "week" if grain_days == 7 else "day"
    per = events.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("u"),
        F.date_trunc(trunc, F.col(ts_col)).alias("period"),
    )
    by_user = per.groupBy("u").agg(
        F.min("period").alias("cohort"),
        F.collect_set("period").alias("periods"),
    )
    offsets = by_user.select(
        "cohort", F.explode("periods").alias("period")
    ).select(
        "cohort",
        F.expr(f"datediff(period, cohort) div {int(grain_days)}").alias(
            "period_offset"
        ),
    )
    ret = offsets.groupBy("cohort", "period_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    w = Window.partitionBy("cohort")
    return (
        ret.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("period_offset") == 0, F.col("active_users"))
            ).over(w),
        )
        .withColumn(
            "retained_pm", F.expr("(1000 * active_users) div cohort_size")
        )
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "period_offset",
            "active_users",
            "cohort_size",
            "retained_pm",
        )
    )


def bucketed_global_rank(
    df: DataFrame,
    key: str,
    *,
    tiebreak: str,
    bucket_shift: int = 16,
    rank_col: str = "global_rank",
    n_col: str = "n_total",
) -> DataFrame:
    """Exact GLOBAL row-number over a non-negative integer key WITHOUT
    the single-partition sort a bare ``row_number() OVER (ORDER BY …)``
    compiles to — the window every naive "rank all customers" query
    bottlenecks on at scale.

    Decomposition: bucket = ``key >> bucket_shift`` is a DETERMINISTIC
    value-derived range partition (never a sampled RangePartitioner
    boundary, so re-execution of any branch is bit-stable); the local
    rank and the per-bucket count come from ONE bucket-keyed window
    exchange; the cross-bucket prefix offsets are a window over the
    TINY (bucket, n) head table — rows where local rank == 1, a
    map-only filter of the same exchange output — broadcast back onto
    it. ``global_rank = offset + local_rank`` equals the plain global
    row-number over (key asc, tiebreak asc) exactly, because the bucket
    order is the key's own high bits.

    Skew contract: parallelism is bounded by the number of OCCUPIED
    buckets; pick ``bucket_shift`` so the hottest bucket fits one task
    (the same Σ-bucket² style contract the banded dedup family
    documents). Keys must be non-negative (``>>`` is arithmetic) and
    non-null — violations raise loudly in-plan.

    Returns the input plus (``rank_col``, ``n_col``) — n_total riding
    along makes quantile cuts pure integer arithmetic downstream:
    ``((global_rank − 1) · B) div n_total``.
    """
    if bucket_shift < 0:
        raise ValueError(f"bucket_shift must be >= 0, got {bucket_shift}")
    reserved = {rank_col, n_col, "_gr_bucket", "_gr_lrank", "_gr_bn", "_gr_off"}
    if bad := reserved.intersection(df.columns):
        raise ValueError(f"input columns collide with outputs: {sorted(bad)}")
    checked = (
        F.when(
            F.col(key).isNull() | (F.col(key) < 0),
            F.raise_error(
                F.concat(
                    F.lit(f"bucketed_global_rank: NULL or negative key {key}="),
                    F.col(key).cast("string"),
                )
            ),
        )
        .otherwise(F.col(key).cast("long"))
    )
    b = df.withColumn(
        "_gr_bucket", F.shiftrightunsigned(checked, int(bucket_shift))
    )
    wloc = Window.partitionBy("_gr_bucket").orderBy(
        F.col(key).asc(), F.col(tiebreak).asc()
    )
    s1 = b.withColumn("_gr_lrank", F.row_number().over(wloc)).withColumn(
        "_gr_bn", F.count(F.lit(1)).over(Window.partitionBy("_gr_bucket"))
    )
    heads = s1.where(F.col("_gr_lrank") == 1).select("_gr_bucket", "_gr_bn")
    woff = Window.orderBy("_gr_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = heads.select(
        "_gr_bucket",
        F.coalesce(F.sum("_gr_bn").over(woff), F.lit(0)).alias("_gr_off"),
        F.sum("_gr_bn").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias(n_col),
    )
    return (
        s1.join(F.broadcast(offs), "_gr_bucket")
        .withColumn(rank_col, F.col("_gr_off") + F.col("_gr_lrank"))
        .drop("_gr_bucket", "_gr_lrank", "_gr_bn", "_gr_off")
    )


def session_concurrency(
    events: DataFrame,
    *,
    gap_sec: int = 1800,
    max_hours: int = 48,
) -> DataFrame:
    """Concurrent-sessions-per-hour — the capacity-planning series
    ("how many sessions were live at 14:00?"): each gap-merged session
    counts toward every hour bucket it OVERLAPS. The naive rendering
    explodes events or sweeps a single global time-ordered prefix sum
    (one task); this explodes each SESSION into its covered hour ids —
    bounded by session length, the DAU/WAU coverage-explode trick — so
    the movement is the ONE user-keyed session exchange plus a tiny
    (hour) count. A session spanning more than ``max_hours`` raises
    in-plan (a gap-merged session that long means broken timestamps,
    and the explode bound is the operator's scale contract).

    Sessions use the batch convention (new session when gap > gap_sec,
    the events_sessionized family's rule). Returns (hour_id, n_sessions)
    with hour_id = floor(epoch_seconds / 3600) as BIGINT — integer in
    both engines, no timestamp hashing.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    sess = events.withColumn(
        "_new", F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
    ).withColumn(
        "_sid",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = sess.groupBy("user_id", "_sid").agg(
        F.expr("CAST(floor(min(CAST(ts AS DOUBLE)) / 3600.0) AS BIGINT)").alias("h0"),
        F.expr("CAST(floor(max(CAST(ts AS DOUBLE)) / 3600.0) AS BIGINT)").alias("h1"),
    )
    checked = spans.withColumn(
        "h1",
        F.when(
            F.col("h1") - F.col("h0") >= int(max_hours),
            F.raise_error(
                F.concat(
                    F.lit(f"session_concurrency: session spans >= {max_hours} hours: "),
                    (F.col("h1") - F.col("h0")).cast("string"),
                )
            ),
        ).otherwise(F.col("h1")),
    )
    return (
        checked.select(F.explode(F.sequence("h0", "h1")).alias("hour_id"))
        .groupBy("hour_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


#: Benford expected leading-digit per-mille shares — floor(log10(1+1/d)
#: ·1000 + 0.5) for d = 1..9, pinned at code-write time (data-independent
#: constants; no runtime ln in either engine). They sum to exactly 1000.
BENFORD_PM = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}


def benford_digit_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford leading-digit data-quality audit over a POSITIVE integer
    column — the forensic screen for fabricated/truncated/unit-mixed
    numeric feeds: natural multi-decade magnitudes follow
    P(d) = log10(1+1/d); flat or spiked digit histograms flag upstream
    corruption before it trains into a model.

    Movement: the leading digit is pure string arithmetic on the integer
    (both engines render bigint-to-string identically), so the audit is
    ONE map-side-combined 9-row aggregate; per-mille shares are exact
    cross-multiplied integers against the window total and the expected
    table is the pinned :data:`BENFORD_PM` constant. Non-positive values
    raise in-plan (their leading digit is undefined) — a corrupted feed
    fails loudly, which is the operator's whole job.

    The expected table DRIVES the join (observed counts outer-joined onto
    it, ``coalesce(n, 0)``), so a completely absent leading digit — the
    strongest Benford violation the audit exists to catch — is reported
    as ``obs_pm = 0`` rather than silently dropped (ADVICE r10: the
    previous inner join made the worst violation invisible). The 9-row
    contract in the docstring is therefore unconditional.

    Returns (digit, n, obs_pm, exp_pm, dev_pm) — ALWAYS 9 rows, dev in
    signed per-mille; an empty input yields n=0 / obs_pm=0 for every
    digit (dev_pm = -exp_pm), the "everything is missing" rendering.
    """
    checked = (
        F.when(
            F.col(value_col).isNull() | (F.col(value_col) <= 0),
            F.raise_error(
                F.concat(
                    F.lit(f"benford_digit_audit: non-positive {value_col}="),
                    F.col(value_col).cast("string"),
                )
            ),
        )
        .otherwise(F.col(value_col).cast("long"))
    )
    agg = (
        df.select(F.substring(checked.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    exp = spark.createDataFrame(
        sorted(BENFORD_PM.items()), "digit int, exp_pm long"
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # expected table drives: agg has <= 9 rows post-aggregation, so the
    # outer join is broadcast-tiny regardless of input scale; the window
    # total runs over the joined 9-row table (coalesced zeros contribute
    # nothing), never over the corpus.
    obs_pm = F.expr(
        "CASE WHEN _total = 0 THEN 0 ELSE (2 * n * 1000 + _total) div (2 * _total) END"
    )
    return (
        exp.join(agg.hint("broadcast"), "digit", "left_outer")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0).cast("long")))
        .withColumn("_total", F.sum("n").over(wtot))
        .select(
            "digit",
            "n",
            obs_pm.alias("obs_pm"),
            "exp_pm",
            (obs_pm - F.col("exp_pm")).alias("dev_pm"),
        )
    )


def rendezvous_shard(key: Column | str, n_shards: int, *, salt: str = "hrw0") -> Column:
    """Rendezvous (highest-random-weight) shard assignment as a PURE
    expression — the stable-sharding primitive a 100 TB pipeline uses
    where plain ``hash(key) % N`` would reshuffle ~everything when N
    changes: under HRW, growing N → N+1 moves only ~1/(N+1) of keys
    (each key moves iff the NEW shard wins its argmax), because every
    existing shard's weight is untouched.

    shard(key) = argmax over s ∈ [0, N) of md5-slice(key ∥ salt ∥ s),
    ties (impossible in practice, pinned anyway) broken toward the
    larger s — rendered as ``array_max`` over a transform'd sequence of
    (hash, s) structs, so the assignment is zero-shuffle map-side work
    in both engines (the oracle replays it as an unnest + window).
    """
    if n_shards < 1:
        raise ValueError(f"rendezvous_shard: n_shards must be >= 1, got {n_shards}")
    k = F.col(key) if isinstance(key, str) else key
    return F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(int(n_shards) - 1)),
            lambda s: F.struct(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("#", k.cast("string"), F.lit(salt), s.cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("h"),
                s.alias("s"),
            ),
        )
    )["s"]


def grouped_global_rank(
    df: DataFrame,
    group: str,
    key: str,
    *,
    tiebreak: str,
    bucket_shift: int = 16,
    rank_col: str = "group_rank",
    n_col: str = "n_group",
) -> DataFrame:
    """Exact PER-GROUP row-number without per-group single-partition
    sorts — :func:`bucketed_global_rank` generalized to a group key: a
    bare ``row_number() OVER (PARTITION BY group ORDER BY key)``
    funnels each group through ONE task, so a 5-source corpus uses 5
    cores no matter the cluster; here the window partitions by
    (group, key >> bucket_shift) — parallelism is occupied buckets PER
    GROUP — and the cross-bucket prefix offsets come from the tiny
    per-group head table (local rank == 1 rows), broadcast back.
    ``group_rank = offset + local_rank`` equals the plain per-group
    row-number over (key asc, tiebreak asc) exactly.

    Same contracts as the global variant: value-derived deterministic
    buckets (never sampled boundaries), non-negative non-null keys
    raise in-plan, ``n_col`` rides along so per-group quantile cuts are
    pure integer arithmetic downstream.
    """
    if bucket_shift < 0:
        raise ValueError(f"bucket_shift must be >= 0, got {bucket_shift}")
    reserved = {rank_col, n_col, "_gg_bucket", "_gg_lrank", "_gg_bn", "_gg_off"}
    if bad := reserved.intersection(df.columns):
        raise ValueError(f"input columns collide with outputs: {sorted(bad)}")
    checked = (
        F.when(
            F.col(key).isNull() | (F.col(key) < 0),
            F.raise_error(
                F.concat(
                    F.lit(f"grouped_global_rank: NULL or negative key {key}="),
                    F.col(key).cast("string"),
                )
            ),
        )
        .otherwise(F.col(key).cast("long"))
    )
    b = df.withColumn("_gg_bucket", F.shiftrightunsigned(checked, int(bucket_shift)))
    wloc = Window.partitionBy(group, "_gg_bucket").orderBy(
        F.col(key).asc(), F.col(tiebreak).asc()
    )
    s1 = b.withColumn("_gg_lrank", F.row_number().over(wloc)).withColumn(
        "_gg_bn", F.count(F.lit(1)).over(Window.partitionBy(group, "_gg_bucket"))
    )
    heads = s1.where(F.col("_gg_lrank") == 1).select(group, "_gg_bucket", "_gg_bn")
    woff = Window.partitionBy(group).orderBy("_gg_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = heads.select(
        group,
        "_gg_bucket",
        F.coalesce(F.sum("_gg_bn").over(woff), F.lit(0)).alias("_gg_off"),
        F.sum("_gg_bn")
        .over(
            Window.partitionBy(group).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias(n_col),
    )
    return (
        s1.join(F.broadcast(offs), [group, "_gg_bucket"])
        .withColumn(rank_col, F.col("_gg_off") + F.col("_gg_lrank"))
        .drop("_gg_bucket", "_gg_lrank", "_gg_bn", "_gg_off")
    )


#: 3.5 · 1.4826 · 10⁴ — the modified-z outlier gate (Iglewicz–Hoaglin's
#: 3.5σ with the MAD→σ consistency constant 1.4826) as an exact integer:
#: flag ⟺ 10000·|x − median| > 51891·MAD. Pinned at code-write time.
ROBUST_Z_35_E4 = 51891


def robust_outlier_stats(
    df: DataFrame,
    group: str,
    value_col: str,
    *,
    tiebreak: str,
    bucket_shift: int = 8,
) -> DataFrame:
    """Median/MAD robust outlier screen per group — the data-cleaning
    step mean/stddev z-scores fail at (the outliers inflate the stddev
    that is supposed to catch them; the median and MAD have 50%
    breakdown). Flags |modified z| > 3.5 (Iglewicz–Hoaglin) via the
    exact integer cross-multiplication :data:`ROBUST_Z_35_E4` — no
    float boundary, no sqrt.

    Both medians are EXACT lower medians (rank (n−1) div 2 + 1 over the
    (value, tiebreak) total order) computed by
    :func:`grouped_global_rank` — never a per-group single-partition
    sort, never an approximate percentile. Movement: two grouped-rank
    exchanges + two tiny broadcast joins + ONE group aggregate.

    Returns (group, med, mad, n, n_outliers) — one row per group.
    """
    base = df.select(group, value_col, tiebreak)
    r1 = grouped_global_rank(
        base, group, value_col, tiebreak=tiebreak, bucket_shift=bucket_shift
    )
    med = r1.where(
        F.col("group_rank") == F.expr("(n_group - 1) div 2 + 1")
    ).select(group, F.col(value_col).alias("med"))
    d = base.join(F.broadcast(med), group).withColumn(
        "adev", F.abs(F.col(value_col) - F.col("med"))
    )
    r2 = grouped_global_rank(
        d.select(group, "adev", tiebreak),
        group,
        "adev",
        tiebreak=tiebreak,
        bucket_shift=bucket_shift,
    )
    mad = r2.where(
        F.col("group_rank") == F.expr("(n_group - 1) div 2 + 1")
    ).select(group, F.col("adev").alias("mad"))
    return (
        d.join(F.broadcast(mad), group)
        .groupBy(group)
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.lit(10000) * F.col("adev")
                    > F.lit(ROBUST_Z_35_E4) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    row_key: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-breaking equi-join — the ACT step after
    :func:`key_skew_profile` measures a hot key: the big side gets a
    deterministic per-row salt in [0, ``salts``), the small side is
    replicated once per salt, and the join runs on (key, salt) — so a
    key that would land one reducer's entire input now spreads across
    ``salts`` tasks. The result is VALUE-IDENTICAL to the plain join
    (each big row carries exactly one salt and the small side has every
    salt for every key; small-side duplicate keys still match exactly
    once per duplicate), which is what the declared query's oracle —
    the plain join — proves.

    The salt is md5-slice(``row_key``) mod ``salts`` (``row_key`` must
    be a unique big-side column), never rand(): retries and both
    engines see the same placement. Small-side replication multiplies
    the SMALL table by ``salts`` — use this when the small side is
    modest but past broadcast range, or cap the replication by
    pre-splitting hot keys; when the small side fits a broadcast,
    broadcast instead (no shuffle at all). AQE's skew-join handles
    sort-merge cases adaptively; this is the explicit, plan-stable
    rendering of the same idea and works for any join the optimizer
    can't rescue.

    ``how``: "inner" or "left" (semantics preserved for both: an
    unmatched big row keeps its single salt and simply finds no
    replicated partner).
    """
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if "_salt" in big.columns or "_salt" in small.columns:
        raise ValueError("input columns collide with the internal _salt")
    b = big.withColumn(
        "_salt",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col(row_key).cast("string"), F.lit("sj"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(int(salts)),
        ).cast("int"),
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(int(salts) - 1)))
    )
    return b.join(s, [key, "_salt"], how).drop("_salt")


def target_encode(
    df: DataFrame,
    category: str,
    label: str,
    *,
    fold_key: str,
    folds: int = 5,
    salt: str = "te",
) -> DataFrame:
    """K-fold leave-fold-out target encoding — the tabular-ML feature
    transform that replaces a high-cardinality category with its
    empirical positive rate WITHOUT leaking each row's own label: rows
    are hash-split into ``folds`` folds on ``fold_key`` and a row's
    encoding uses only the OTHER folds' statistics (enc(cat, f) =
    rate of cat over folds ≠ f).

    Exactness: the fold is the md5-slice split used by the whole
    sampling family; leave-fold-out counts are differences of exact
    integer sums, and the rate is the house round-half-up micro
    division ((2·U·pos + n) div 2n) — a category seen ONLY inside one
    fold gets NULL for that fold (no out-of-fold evidence), loudly
    visible rather than silently smoothed.

    Shape (100 TB): ONE map-side-combined (category, fold) aggregate —
    output bounded by |categories|·folds — then per-category totals via
    a window over that tiny table. Returns (category, fold, n_out,
    pos_out, enc_micro).
    """
    if folds < 2:
        raise ValueError(f"folds must be >= 2, got {folds}")
    agg = df.groupBy(
        F.col(category).alias("category"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#", F.col(fold_key).cast("string"), F.lit(salt)
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(int(folds)),
        ).cast("int").alias("fold"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label).cast("long")).alias("pos"),
    )
    w = Window.partitionBy("category")
    return (
        agg.withColumn("n_out", F.sum("n").over(w) - F.col("n"))
        .withColumn("pos_out", F.sum("pos").over(w) - F.col("pos"))
        .select(
            "category",
            "fold",
            "n_out",
            "pos_out",
            F.when(
                F.col("n_out") > 0,
                F.expr("(2 * pos_out * 1000000 + n_out) div (2 * n_out)"),
            ).alias("enc_micro"),
        )
    )


def cusum_days(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    group_col: str = "event_type",
    slack_pct: int = 110,
    alarm_mult: int = 3,
) -> DataFrame:
    """One-sided CUSUM change-point detection over daily volumes — the
    sequential drift detector that catches a SUSTAINED level shift the
    per-day MAD anomaly flag (``daily_count_anomalies``) misses, because
    CUSUM accumulates small persistent excesses instead of judging each
    day alone.

    The textbook recursion S_t = max(0, S_{t-1} + (x_t − k)) is not a
    window prefix sum, but its closed form IS: with P_t = Σ_{j≤t}(x_j − k)
    and P_0 = 0,  **S_t = P_t − min(0, P_1..P_t)** — so the whole
    statistic is two ordered windows (prefix sum + running min) over the
    tiny (group, day) table, no recursion, no UDF. Everything is exact
    integer micro-units: the reference k is ``slack_pct``% of the
    group's round-half-up mean daily count (micro), and the alarm
    threshold is ``alarm_mult·k`` — both pure integer arithmetic, so
    alarms replay bit-identically.

    Shape (100 TB): ONE map-side-combined (group, day) count is the only
    corpus-scale movement; the windows run over days × groups rows.
    Returns (group, day, n_events, cusum_micro, alarm).
    """
    if slack_pct < 100:
        raise ValueError(f"slack_pct must be >= 100, got {slack_pct}")
    if alarm_mult < 1:
        raise ValueError(f"alarm_mult must be >= 1, got {alarm_mult}")
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    wg = Window.partitionBy("grp")
    # k_micro = slack_pct% of the round-half-up mean daily count, micro
    k = F.expr(
        f"((2 * sum(n_events * 1000000) OVER (PARTITION BY grp)"
        f" + count(1) OVER (PARTITION BY grp))"
        f" div (2 * count(1) OVER (PARTITION BY grp)))"
        f" * {int(slack_pct)} div 100"
    )
    wo = Window.partitionBy("grp").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = daily.withColumn("k_micro", k).withColumn(
        "p", F.sum(F.col("n_events") * 1_000_000 - F.col("k_micro")).over(wo)
    )
    return (
        d.withColumn(
            "cusum_micro",
            F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(wo)),
        )
        .withColumn(
            "alarm",
            F.col("cusum_micro") > F.col("k_micro") * F.lit(int(alarm_mult)),
        )
        .select(
            F.col("grp").alias(group_col),
            "day",
            "n_events",
            "cusum_micro",
            "alarm",
        )
    )


#: chi-square(1 df) 95th percentile, micro-quantized — a DATA-INDEPENDENT
#: mathematical constant (3.841459), pinned once so no engine's math
#: library is ever consulted for it.
CHI2_1DF_95_MICRO = 3_841_459


def ratio_jackknife(
    df: DataFrame,
    unit_col: str,
    num_flag: Column,
    den_flag: Column,
    *,
    n_buckets: int = 20,
    salt: str = "jk0",
    unit: int = 1_000_000,
) -> DataFrame:
    """Cluster-robust (delete-one-group jackknife) standard error for a
    ratio metric — the experimentation family's variance estimator:
    a per-event CTR's naive binomial SE is wrong whenever one unit
    contributes many events (the rows are correlated within user), and
    the grouped jackknife is the standard fix (Efron 1982, ch. 2;
    delete-a-group over unit-hash buckets).

    Exactness: units hash into ``n_buckets`` deterministic md5 groups;
    the ONLY corpus movement is one map-side-combined bucket aggregate
    (≤ n_buckets rows out). Every leave-one-out estimate is quantized
    to integer micro-units — θ_g = (N−n_g)·unit div (D−d_g) — so the
    spread statistic K = Σ(G·θ_g − S)² is an EXACT integer (S = Σθ_g,
    G = occupied buckets) and the returned SE is one sqrt of an exact
    ratio: sqrt((G−1)·K) / (G·sqrt(G)) — no accumulation-order float
    drift for an oracle to trip on. The square is computed in
    DECIMAL(38,0) (HUGEINT in the oracle): the centered term G·θ_g − S
    fits BIGINT for any |θ| ≤ ~4.6e17 micro-units (num/den ≤ 4.6e11 —
    far past any real ratio metric), but its SQUARE exceeds BIGINT
    already at |G·θ−S| ≳ 3e9, where Spark (non-ANSI) would wrap
    silently while DuckDB errors — the exact cross-engine divergence
    class the house conventions close (ADVICE r11). A leave-one-out
    denominator of zero raises in-plan (one bucket holding every
    denominator event means the grouping is degenerate, and silence
    would return a garbage SE).

    Returns ONE row: (n_groups, num_total, den_total, ratio_micro,
    se_micro).
    """
    if n_buckets < 2:
        raise ValueError(f"ratio_jackknife: n_buckets must be >= 2, got {n_buckets}")
    # NULL unit keys raise: concat_ws silently SKIPS a NULL column, so a
    # NULL unit would hash to the deterministic md5(salt) bucket in
    # Spark while the oracle's `unit::VARCHAR || salt` propagates NULL —
    # the exact cross-engine divergence class the repo's matched-failure
    # convention exists to close (review finding)
    unit_checked = F.when(
        F.col(unit_col).isNull(),
        F.raise_error(F.lit(f"ratio_jackknife: NULL unit key {unit_col}")),
    ).otherwise(F.col(unit_col))
    bkt = F.conv(
        F.substring(F.md5(F.concat_ws("#", unit_checked, F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long") % n_buckets
    per = (
        df.select(
            bkt.alias("_g"),
            F.when(num_flag, 1).otherwise(0).alias("_n"),
            F.when(den_flag, 1).otherwise(0).alias("_d"),
        )
        .groupBy("_g")
        .agg(F.sum("_n").alias("n_g"), F.sum("_d").alias("d_g"))
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    theta = (
        per.withColumn("num_total", F.sum("n_g").over(wtot))
        .withColumn("den_total", F.sum("d_g").over(wtot))
        .withColumn("n_groups", F.count(F.lit(1)).over(wtot))
        .withColumn(
            "_theta",
            F.when(
                F.col("den_total") - F.col("d_g") <= 0,
                F.raise_error(
                    F.lit(
                        "ratio_jackknife: leave-one-out denominator is zero "
                        "— one bucket holds every denominator event"
                    )
                ),
            ).otherwise(
                F.expr(
                    f"(num_total - n_g) * CAST({int(unit)} AS BIGINT)"
                    " div (den_total - d_g)"
                )
            ),
        )
        .withColumn("_s", F.sum("_theta").over(wtot))
    )
    return theta.groupBy("n_groups", "num_total", "den_total").agg(
        F.expr(f"max(num_total * CAST({int(unit)} AS BIGINT) div den_total)").alias(
            "ratio_micro"
        ),
        F.round(
            F.sqrt(
                (F.col("n_groups") - F.lit(1)).cast("double")
                * F.sum(
                    # DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0): the
                    # linalg/CUPED exact-square pattern — the centered
                    # term is BIGINT-exact, only its square needs width
                    F.expr(
                        "CAST(n_groups * _theta - _s AS DECIMAL(19,0))"
                        " * CAST(n_groups * _theta - _s AS DECIMAL(19,0))"
                    )
                ).cast("double")
            )
            / (
                F.col("n_groups").cast("double")
                * F.sqrt(F.col("n_groups").cast("double"))
            ),
            4,
        ).alias("se_micro"),
    ).select("n_groups", "num_total", "den_total", "ratio_micro", "se_micro")


def srm_check(
    df: DataFrame,
    experiment_col: str,
    unit_col: str,
    *,
    salt: str = "srm",
) -> DataFrame:
    """Sample-ratio-mismatch check — the FIRST gate of every A/B
    readout: under a 50/50 hash split the two variants' unit counts
    must match up to chance, and a significant imbalance means the
    assignment or logging is broken (every downstream metric is then
    garbage). The statistic is the 2-cell chi-square
    ``(a−b)²/(a+b)``, micro-quantized with the house round-half-up
    integer division — pure integer arithmetic, and the 3.84 critical
    value is a pinned data-independent constant
    (:data:`CHI2_1DF_95_MICRO`), so the verdict replays bit-identically
    in any engine.

    Shape (100 TB): one distinct (experiment, unit) pass — map-side
    combinable — then a (experiment, variant) count whose output is
    experiments × 2; everything after is arithmetic on that tiny table.
    Returns (experiment, n_a, n_b, chi2_micro, srm_flag).
    """
    variant = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("#", F.col(unit_col).cast("string"), F.lit(salt))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    units = (
        df.select(
            F.col(experiment_col).alias("experiment"),
            F.col(unit_col).alias("unit"),
            variant.alias("variant"),
        )
        .where(F.col("unit").isNotNull())
        .distinct()
    )
    counts = units.groupBy("experiment").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
    )
    return counts.select(
        "experiment",
        "n_a",
        "n_b",
        F.expr(
            "(2 * 1000000 * (n_a - n_b) * (n_a - n_b) + (n_a + n_b))"
            " div (2 * (n_a + n_b))"
        ).alias("chi2_micro"),
    ).withColumn("srm_flag", F.col("chi2_micro") > F.lit(CHI2_1DF_95_MICRO))


def rolling_active_users(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """DAU / WAU / stickiness — the growth dashboard's rolling
    distinct-user counts. A distinct-count over a sliding window is NOT
    a window function (COUNT(DISTINCT) OVER a range is unsupported and
    a per-day re-scan is quadratic); the scalable rendering explodes
    each distinct (user, day) into the ``window_days`` calendar days it
    keeps the user "active" for — a map-side explode bounded by
    window_days rows per active-day — then ONE distinct + count per
    covered day.

    Exactness: days are ISO strings, counts are integers, stickiness is
    the house integer per-mille (1000·dau div wau). The output is
    restricted to days with same-day activity (the coverage explode's
    tail past the last active day is dropped, so the table never
    invents trailing calendar days).

    Shape (100 TB): ONE (user, day) distinct is the corpus-scale
    movement; the explode multiplies that BOUNDED table by
    window_days; both counts are map-side combinable. Returns
    (day, dau, wau, stickiness_pm).
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    ud = (
        events.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("u"),
            F.date_trunc("day", F.col(ts_col)).cast("date").alias("d"),
        )
        .distinct()
    )
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    cover = (
        ud.select(
            "u",
            F.explode(
                F.sequence(
                    F.lit(0), F.lit(int(window_days) - 1)
                )
            ).alias("off"),
            "d",
        )
        .select("u", F.date_add(F.col("d"), F.col("off")).alias("d"))
        .distinct()
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        days.join(dau, "d", "left")
        .join(cover, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            F.expr("(1000 * coalesce(dau, 0)) div coalesce(wau, 1)").alias(
                "stickiness_pm"
            ),
        )
    )


#: Poisson(1) cumulative distribution quantized to micro-units, round
#: half up — the inverse-CDF table behind the deterministic bootstrap
#: weights. Data-independent constants (the CHI2_1DF_95_MICRO
#: treatment): w(u) = #{c in table : u >= c} for a uniform integer
#: u in [0, 1e6). The tail is capped at w = 8 (residual mass ~1.1e-6 —
#: one tick of the grid; the cap is part of the pinned definition, so
#: both engines replay it identically).
POISSON1_CUM_MICRO = (
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990,
)


def poisson1_weight_sql(u_expr: str) -> str:
    """The pinned Poisson(1) inverse-CDF as one engine-portable SQL
    expression over an integer uniform ``u_expr`` in [0, 1e6): the count
    of cumulative thresholds at or below u. Shared by the Spark plan and
    the DuckDB oracle so the weight literals can never drift."""
    terms = " + ".join(
        f"(CASE WHEN ({u_expr}) >= {c} THEN 1 ELSE 0 END)"
        for c in POISSON1_CUM_MICRO
    )
    return f"({terms})"


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    value_micro: Column,
    *,
    replicates: int = 200,
    salt: str = "boot0",
) -> DataFrame:
    """Cluster (per-unit) Poisson-bootstrap confidence interval for a
    per-event mean — the experimentation family's interval estimator,
    complementing :func:`ratio_jackknife`'s SE: the bootstrap reads the
    whole sampling distribution (percentile CI, no normality assumption)
    where the jackknife reads one number, and the POISSON form is the
    bootstrap that distributes (Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams" — multinomial resampling needs
    global coordination; independent per-(unit, replicate) Poisson(1)
    weights need none).

    Determinism: the weight for (group, unit, replicate r) is the pinned
    inverse-CDF (:data:`POISSON1_CUM_MICRO`) of the md5 integer uniform —
    no RNG state, replayable in any engine, join-stable across retries.
    Resampling is BY UNIT (every event of a unit carries its unit's
    weight), so within-unit correlation is respected — the same reason
    the jackknife groups by unit.

    Exactness: replicate estimates are round-half-up integer micro-means
    ``θ_r = (2·Σ w·s_u + Σ w·n_u) div (2·Σ w·n_u)`` over per-unit
    integer partials (s_u = Σ value_micro, n_u = events); the CI bounds
    are EXACT order statistics of the R integer estimates — lo at rank
    ceil(0.025·R), hi at rank R+1−ceil(0.025·R) (R=200 → ranks 5/196),
    the pinned percentile rule. No float op touches any returned value.

    Matched failure: a replicate whose weighted event count is zero
    raises in-plan (≈(1/e)^units — only reachable when a group has a
    handful of units, where a bootstrap is meaningless anyway); NULL
    unit keys raise (concat_ws would silently skip them into a shared
    md5(salt) bucket while an oracle's ``||`` propagates NULL — the
    cross-engine divergence class the matched-failure convention
    closes); a NULL ``value_micro`` raises too (``sum`` skips NULLs
    while the row still counts in n_u and in every replicate's den,
    silently deflating θ and the CI — the diff_in_diff silent-skew
    class, and one BOTH engines share so no oracle could catch it;
    ADVICE r12).

    Shape (100 TB): ONE corpus-scale exchange — the map-side-combined
    (group, unit) partial aggregate. Replicates explode the UNIT-level
    table (units × R rows, bounded by units never events), the
    per-replicate fold is map-side combinable to groups × R rows AND
    carries the point estimate's unweighted partials (every (g, rep)
    cell sees every unit once, so no second pass over per_unit and no
    point×ci join), and the CI bounds are exact order statistics via
    one R-element array sort per group — four bounded exchanges total
    (three hash + the explicit round-robin repartition that pins the
    explode stage's parallelism), a shape chosen deliberately small
    because AQE pays real re-optimization latency per query stage. Returns one row per
    group: (group, n_units, n_events, theta_micro, lo_micro, hi_micro,
    n_replicates).
    """
    if replicates < 40:
        raise ValueError(
            f"poisson_bootstrap_ci: replicates must be >= 40 for a 2.5% "
            f"percentile rank to exist, got {replicates}"
        )
    r = int(replicates)
    lo_rank = -((-25 * r) // 1000)  # ceil(0.025 R)
    hi_rank = r + 1 - lo_rank
    unit_checked = F.when(
        F.col(unit_col).isNull(),
        F.raise_error(F.lit(f"poisson_bootstrap_ci: NULL unit key {unit_col}")),
    ).otherwise(F.col(unit_col).cast("string"))
    # NULL groups raise for the same concat_ws-skips-NULL reason as units
    group_checked = F.when(
        F.col(group_col).isNull(),
        F.raise_error(F.lit(f"poisson_bootstrap_ci: NULL group key {group_col}")),
    ).otherwise(F.col(group_col).cast("string"))
    # NULL values raise: sum() would skip the NULL while the row still
    # counts in n_u (and in den), silently skewing theta and the CI
    value_checked = F.when(
        value_micro.isNull(),
        F.raise_error(F.lit("poisson_bootstrap_ci: NULL value_micro")),
    ).otherwise(value_micro)

    per_unit = (
        df.select(
            group_checked.alias("g"),
            unit_checked.alias("u"),
            value_checked.alias("v"),
        )
        .groupBy("g", "u")
        .agg(F.count(F.lit(1)).alias("n_u"), F.sum("v").alias("s_u"))
    )

    u_expr = (
        "CAST(conv(substring(md5(concat_ws('#', g, u, CAST(rep AS STRING), "
        f"'{salt}')), 1, 8), 16, 10) AS BIGINT) % 1000000"
    )
    # pin the explode stage's parallelism EXPLICITLY: AQE coalesces the
    # per-unit shuffle by its byte size, which under-counts the R×
    # explode + md5 work that runs in the SAME stage by 200× — measured
    # single-task 1.5M-row md5 folds (2s) where 32-way takes 0.1s. An
    # explicit-N ROUND-ROBIN repartition of the (tiny, already-combined)
    # unit table is exempt from AQE coalescing and costs one
    # units-bounded shuffle (hash-repartitioning by (g, u) again would
    # be pruned as redundant — the agg output already satisfies it) —
    # the generic explode-after-shuffle AQE pitfall, worth pinning.
    # ADVICE r13: the conf value may be non-numeric ('auto' on some
    # runtimes, where AQE's initialPartitionNum governs the real shuffle
    # width) — degrade to the cluster's default parallelism instead of
    # raising ValueError at plan-build time.
    try:
        n_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except (TypeError, ValueError):
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    n_parts = max(n_parts, 1)
    reps = (
        per_unit.repartition(n_parts)
        .select(
            "g",
            "u",
            "n_u",
            "s_u",
            F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("rep"),
        )
        # materialize the md5 uniform ONCE per (unit, replicate) row:
        # inlining u_expr into poisson1_weight_sql repeats the md5 call
        # in all 8 CASE branches and Catalyst does not CSE across CASE
        # arms — the 8x-duplicated codegen was the documented
        # bench-context JIT floor of events_bootstrap_ci (VERDICT r12
        # #5). Same pinned weight function, one md5, tiny codegen.
        .withColumn("_boot_u", F.expr(u_expr))
        .withColumn("w", F.expr(poisson1_weight_sql("_boot_u")).cast("long"))
        .drop("_boot_u")
        .groupBy("g", "rep")
        .agg(
            # DECIMAL(38,0) sums (HUGEINT in the oracle): per-group
            # weighted totals can exceed BIGINT at warehouse scale and
            # Spark (non-ANSI) would wrap silently while DuckDB errors —
            # the ADVICE-r11 cross-engine divergence class
            F.expr("sum(CAST(w AS DECIMAL(19,0)) * n_u)").alias("den"),
            F.expr("sum(CAST(w AS DECIMAL(19,0)) * s_u)").alias("num"),
            # the POINT estimate's unweighted partials ride the SAME
            # fold (every (g, rep) cell sees every unit exactly once,
            # so the per-cell unweighted sums all equal the per-group
            # totals) — the separate per_unit.groupBy(g) branch and the
            # point×ci join it forced are gone, and with them two AQE
            # query stages; the stage count, not the md5 codegen, was
            # the real bench-context floor (measured: AQE off 1.2s vs
            # on 2.9s on identical plans — ~250ms re-optimization +
            # scheduling per stage). The ltv_curve/retention "ride the
            # same fold" pattern.
            F.count(F.lit(1)).alias("n_units"),
            F.expr("sum(CAST(n_u AS DECIMAL(19,0)))").alias("n_ev"),
            F.expr("sum(CAST(s_u AS DECIMAL(19,0)))").alias("s_tot"),
        )
        .withColumn(
            "theta",
            F.when(
                F.col("den") <= 0,
                F.raise_error(
                    F.lit(
                        "poisson_bootstrap_ci: a replicate resampled zero "
                        "events — too few units for a bootstrap"
                    )
                ),
            ).otherwise(
                F.expr("CAST((2 * num + den) div (2 * den) AS BIGINT)")
            ),
        )
    )

    # CI bounds as exact order statistics of the R per-group thetas via
    # one bounded array sort (R elements per group — replaces the rank
    # window's extra Sort+Window stage pair; ranks pick values only, so
    # sorting theta alone is tie-equivalent to the old (theta, rep)
    # rank order)
    return (
        reps.groupBy("g")
        .agg(
            F.expr(
                f"element_at(array_sort(collect_list(theta)), {lo_rank})"
            ).alias("lo_micro"),
            F.expr(
                f"element_at(array_sort(collect_list(theta)), {hi_rank})"
            ).alias("hi_micro"),
            F.max("n_units").alias("n_units"),
            F.max("n_ev").alias("n_ev"),
            F.max("s_tot").alias("s_tot"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_units",
            F.col("n_ev").cast("long").alias("n_events"),
            F.expr(
                "CAST((2 * s_tot + n_ev) div (2 * n_ev) AS BIGINT)"
            ).alias("theta_micro"),
            "lo_micro",
            "hi_micro",
            F.lit(r).alias("n_replicates"),
        )
    )


def cdc_latest_snapshot(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
    *,
    delete_op: str = "D",
    keep_tombstones: bool = False,
) -> DataFrame:
    """Latest-wins change-data-capture snapshot — the MERGE-INTO
    compaction every lakehouse ingest runs (Delta/Hudi/Iceberg CoW):
    from a keyed change feed of upserts and deletes, materialize the
    CURRENT state — each key's most recent non-delete payload; keys
    whose latest change is a delete are absent. The point-in-time
    complement of the SCD2 family: scd2_build keeps the full history,
    this keeps only the head, which is what a serving table wants.

    Ordering contract: changes are totally ordered per key by
    ``(ts_col asc, seq_col asc)`` — the LAST row wins; equal timestamps
    resolve by the sequence column (a log offset / event id), the rule
    CDC consumers (Debezium/Kafka) define. A NULL timestamp, sequence,
    KEY or OP raises in-plan: an unordered/unkeyed change is a corrupt
    feed and silence would pick an arbitrary outcome — a NULL op in
    particular would evaluate ``op != delete_op`` to NULL and silently
    TOMBSTONE the key exactly as if its last change were a delete
    (self-review; the oracle mirrors the raise).

    Shape (100 TB): ONE key exchange. The rank window keeps exactly the
    top-1 row per key, so WindowGroupLimit pushes a per-map-partition
    1-row heap BELOW the exchange — the shuffle carries at most one
    surviving change per key per map partition, never the raw feed.
    No join against the existing snapshot is needed (latest-wins is
    associative; at scale this runs per partition-of-keys).

    ``keep_tombstones=True`` returns ONE row per key ever seen — the
    latest change INCLUDING deletes, with the op column — which is the
    mergeable STATE form: because latest-wins is a commutative/
    associative fold (max by (ts, seq)), folding any partition of the
    feed through this state form reproduces the one-shot snapshot for
    ANY batch split and ANY arrival order — no watermark or reorder
    buffer is needed (unlike SCD2, whose period stitching is
    order-sensitive). :func:`mopso_engine.ext.streaming.
    cdc_maintain_stream` builds on exactly this property; tombstones
    must be retained in state or a late stale update would resurrect a
    deleted key.

    Returns (key, ts, seq, *payload_cols) for live keys only; with
    ``keep_tombstones`` (key, ts, seq, op, *payload_cols) for all keys.
    """
    # the internal withColumn names would silently REPLACE a same-named
    # feed column, corrupting the ordering/output (ADVICE r12) — raise,
    # matching the library's no-silent-outcome convention
    for tmp in ("_cdc_ts", "_rn"):
        if tmp in changes.columns:
            raise ValueError(
                f"cdc_latest_snapshot: input already has a column named "
                f"{tmp!r}, which collides with an internal working column "
                f"— rename it before calling"
            )
    ts_checked = F.when(
        F.col(ts_col).isNull()
        | F.col(seq_col).isNull()
        | F.col(key_col).isNull()
        | F.col(op_col).isNull(),
        F.raise_error(
            F.lit(
                f"cdc_latest_snapshot: NULL {ts_col}/{seq_col}/"
                f"{key_col}/{op_col} — the change feed is corrupt"
            )
        ),
    ).otherwise(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(
        F.desc("_cdc_ts"), F.desc(seq_col)
    )
    ranked = (
        changes.withColumn("_cdc_ts", ts_checked)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    if keep_tombstones:
        return ranked.select(
            key_col,
            F.col("_cdc_ts").alias(ts_col),
            seq_col,
            op_col,
            *payload_cols,
        )
    return ranked.where(F.col(op_col) != delete_op).select(
        key_col,
        F.col("_cdc_ts").alias(ts_col),
        seq_col,
        *payload_cols,
    )


def cdc_snapshot_asof(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
    asof: Column,
    *,
    delete_op: str = "D",
    keep_tombstones: bool = False,
) -> DataFrame:
    """Time-travel read over a CDC change ledger — ``SELECT ... AS OF
    TIMESTAMP T``: the table state after applying every change with
    ``ts_col <= asof`` (INCLUSIVE, the Delta/Iceberg ``TIMESTAMP AS OF``
    convention — a change committed exactly at T is visible; note this
    deliberately differs from :func:`asof_lookup_scd2`'s STRICT
    convention, which matches asof_join's not-yet-visible probe
    semantics — the two conventions are each pinned to the family they
    read for). The read half of the write machinery: the ledger the
    streaming maintainer (:func:`mopso_engine.ext.streaming.
    cdc_maintain_stream`) and the batch compactor keep is append-only,
    so ANY past state replays from it with a filter — no stored
    per-version snapshots needed.

    Shape (100 TB): the asof predicate is a plain pushed-down filter on
    the ledger scan, and everything downstream is exactly
    :func:`cdc_latest_snapshot`'s bounded shape: one key exchange with
    the rank-1 WindowGroupLimit heap below it. On a date/batch-
    PARTITIONED ledger, ALSO pre-filter on the partition column
    (``changes.where(col("day") <= to_date(asof))``) — Spark derives
    no partition filter from a row-level timestamp predicate alone, so
    the partition-column cut is what actually prunes directories
    (measured: 5 of 10 day partitions read,
    tests/test_plans.py::test_cdc_asof_prunes_ledger_partitions). Cost
    then scales with the ledger prefix up to T, never the full ledger.

    NULL asof raises in-plan (a NULL cut would silently compare to
    NULL and return an EMPTY table — the silent-outcome class), and a
    NULL ``ts_col`` raises HERE in the cut filter (``NULL <= T`` is
    NULL, so the corrupt row would silently drop BEFORE
    cdc_latest_snapshot's feed guard could see it); NULL key/seq/op
    rows BEYOND the cut are legitimately never read — the guard only
    governs the ledger prefix actually replayed.
    """
    asof_checked = F.when(
        asof.isNull(),
        F.raise_error(F.lit("cdc_snapshot_asof: NULL asof timestamp")),
    ).otherwise(asof)
    ts_guarded = F.when(
        F.col(ts_col).isNull(),
        F.raise_error(
            F.lit(
                f"cdc_snapshot_asof: NULL {ts_col} — the change feed "
                f"is corrupt"
            )
        ),
    ).otherwise(F.col(ts_col))
    return cdc_latest_snapshot(
        changes.where(ts_guarded <= asof_checked),
        key_col,
        ts_col,
        seq_col,
        op_col,
        payload_cols,
        delete_op=delete_op,
        keep_tombstones=keep_tombstones,
    )


def cdc_snapshot_diff(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
    asof_old: Column,
    asof_new: Column,
    *,
    delete_op: str = "D",
) -> DataFrame:
    """Two-cut time-travel DIFF over the CDC ledger — "what changed
    between AS OF T1 and AS OF T2": one row per key whose latest-wins
    WINNER differs between the cuts, classified ``created`` (not live
    at T1, live at T2), ``deleted`` (live at T1, tombstoned by T2) or
    ``updated`` (live at both under different (ts, seq) versions —
    version identity, not payload equality, defines "changed": a
    same-value rewrite IS a change the audit must see). Untouched keys
    — including keys tombstoned at both cuts — emit nothing. The
    audit/backfill readout between two publication points, built
    purely from the ledger the write machinery already keeps.

    Composition: two :func:`cdc_snapshot_asof` reads
    (``keep_tombstones=True`` — a tombstone at T1 vs live at T2 is a
    re-creation, which an absent-row rendering could not distinguish
    from first creation) full-outer-joined on the key. T1 > T2 raises
    in-plan on the first ledger row read (an inverted window would
    silently swap created/deleted); over an EMPTY ledger there is no
    row to misclassify, so the inverted call returns empty like any
    other read of an empty ledger — the guard protects outcomes, and
    an empty ledger has only one.

    Shape (100 TB): deliberately TWO prefix-pruned ledger scans rather
    than one clever shared scan — each snapshot's rank-1 window is
    WindowGroupLimit-pushed, so each shuffle carries at most one row
    per key per map partition (keys × maps bound), whereas deriving
    both cuts from one T2-prefix scan needs two differently-ordered
    windows over the same exchange and ships the ENTIRE prefix through
    it; scans are cheap columnar reads, shuffles are the bottleneck,
    so two bounded shuffles beat one unbounded. The final join is
    key-bounded and co-partitioned (both sides exit their windows
    hash-partitioned on the key).

    Returns (key, change_type, old_``ts``, old_``seq``, new_``ts``,
    new_``seq``, old_*payload*, new_*payload*) — old columns NULL for
    ``created`` rows' pre-state, new payload NULL for ``deleted``.
    """
    asof_new_checked = F.when(
        asof_old > asof_new,
        F.raise_error(
            F.lit(
                "cdc_snapshot_diff: asof_old is after asof_new — an "
                "inverted window would silently swap created/deleted"
            )
        ),
    ).otherwise(asof_new)
    old = cdc_snapshot_asof(
        changes, key_col, ts_col, seq_col, op_col, payload_cols,
        asof_old, delete_op=delete_op, keep_tombstones=True,
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("old_" + ts_col),
        F.col(seq_col).alias("old_" + seq_col),
        F.col(op_col).alias("__old_op"),
        *[F.col(p).alias("old_" + p) for p in payload_cols],
    )
    new = cdc_snapshot_asof(
        changes, key_col, ts_col, seq_col, op_col, payload_cols,
        asof_new_checked, delete_op=delete_op, keep_tombstones=True,
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("new_" + ts_col),
        F.col(seq_col).alias("new_" + seq_col),
        F.col(op_col).alias("__new_op"),
        *[F.col(p).alias("new_" + p) for p in payload_cols],
    )
    j = old.join(new, "__k", "full_outer")
    old_live = F.col("__old_op").isNotNull() & (
        F.col("__old_op") != delete_op
    )
    new_live = F.col("__new_op").isNotNull() & (
        F.col("__new_op") != delete_op
    )
    same_version = (
        F.col("old_" + ts_col).eqNullSafe(F.col("new_" + ts_col))
    ) & (F.col("old_" + seq_col).eqNullSafe(F.col("new_" + seq_col)))
    change = (
        F.when(~old_live & new_live, F.lit("created"))
        .when(old_live & ~new_live, F.lit("deleted"))
        .when(old_live & new_live & ~same_version, F.lit("updated"))
    )
    out = j.withColumn("change_type", change).where(
        F.col("change_type").isNotNull()
    )
    # contract: old_* = the LIVE state at T1 (all NULL when none — a
    # created-over-tombstone key must not leak the tombstone's stale
    # version/payload as if it were prior state); new_ts/new_seq = the
    # winning T2 version always (for deleted rows that is the
    # tombstone's version — the traceable delete event), new payload
    # NULL unless live (state after a delete has no value)
    return out.select(
        F.col("__k").alias(key_col),
        "change_type",
        F.when(old_live, F.col("old_" + ts_col)).alias("old_" + ts_col),
        F.when(old_live, F.col("old_" + seq_col)).alias("old_" + seq_col),
        "new_" + ts_col,
        "new_" + seq_col,
        *[
            F.when(old_live, F.col("old_" + p)).alias("old_" + p)
            for p in payload_cols
        ],
        *[
            F.when(new_live, F.col("new_" + p)).alias("new_" + p)
            for p in payload_cols
        ],
    )


#: Mersenne prime 2^61 − 1: the pinned modulus that folds the
#: order-independent fingerprint sum back into BIGINT range in BOTH
#: engines (DuckDB's sum widens to HUGEINT, Spark's to DECIMAL(38,0) —
#: neither output type survives the driver's pandas rendering, and an
#: unreduced 60-bit-per-row sum overflows BIGINT beyond ~8 rows)
FINGERPRINT_MOD = (1 << 61) - 1


def table_fingerprint(
    df: DataFrame,
    cols: list[str],
    *,
    group_by: str | None = None,
    salt: str = "fp0",
) -> DataFrame:
    """Order-independent cross-engine table checksum — the "did this
    migration/replica/refactor change ANY row" gate when the two table
    versions do NOT sit in the same cluster (the co-located case is
    `snapshot_diff`'s join; a checksum travels as one row per group).
    Spark's builtin ``hash``/xxhash is engine-specific, so the row
    digest is md5 over a CANONICAL rendering the caller controls
    (``cols`` must be exactly renderable — integers/strings/pre-
    rendered dates; floats must be quantized first, the house cents/
    micro rule): h(row) = first 15 md5 hex digits (60 bits) of the
    '#'-joined rendering, and the fingerprint is Σ h(row) mod 2^61−1
    (:data:`FINGERPRINT_MOD`) — addition commutes, so the checksum is
    partition- and order-proof, and the Mersenne reduction keeps it
    BIGINT-exact in any engine.

    NULL rendering: a NULL column raises in-plan — concat_ws silently
    SKIPS NULLs, so 'a#NULL#b' and 'a#b' would collide across columns
    (and diverge from any oracle whose ``||`` propagates NULL): the
    caller must coalesce to an explicit sentinel first, making the
    sentinel part of the audited contract rather than an accident.

    Shape (100 TB): map-only row hashing + ONE map-side-combined
    aggregate to |groups| rows (sum in DECIMAL(38,0), reduced once per
    group — Σ of 60-bit terms stays far under 38 digits for any real
    partition count). Returns (group?, n_rows, fp).
    """
    null_guard = F.when(
        F.greatest(*[F.col(c).isNull() for c in cols])
        if len(cols) > 1
        else F.col(cols[0]).isNull(),
        F.raise_error(
            F.lit(
                "table_fingerprint: NULL in a fingerprinted column — "
                "coalesce to an explicit sentinel first (concat_ws "
                "would silently skip it)"
            )
        ),
    ).otherwise(F.lit(1))
    h = F.expr(
        "CAST(conv(substring(md5(concat_ws('#', "
        + ", ".join(f"CAST(`{c}` AS STRING)" for c in cols)
        + f", '{salt}')), 1, 15), 16, 10) AS BIGINT)"
    )
    rows = df.select(
        *([F.col(group_by).alias("g")] if group_by else []),
        (h * null_guard).alias("_h"),
    )
    agg = [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            f"CAST(sum(CAST(_h AS DECIMAL(38,0))) % {FINGERPRINT_MOD} "
            "AS BIGINT)"
        ).alias("fp"),
    ]
    if group_by:
        return rows.groupBy(F.col("g").alias(group_by)).agg(*agg)
    return rows.agg(*agg)


def diff_in_diff(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
    value_micro: Column,
    *,
    cut: str,
    salt: str = "did0",
) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental
    estimator for launches that could NOT be randomized per-event (a
    pricing change, a market rollout): compare the treated group's
    pre→post movement against the control group's, so any shared trend
    (seasonality, market drift) differences out and only the
    treatment-correlated part of the shift remains. Completes the
    experimentation family's causal ladder next to the randomized
    readouts (srm / cuped / jackknife / qte / bootstrap).

    Assignment is the family's deterministic md5 unit split; periods
    split at the ``cut`` timestamp literal. Exactness: the four cell
    means are house round-half-up integer micro divisions over exact
    DECIMAL(38,0) cell sums, and the estimate is pure integer
    subtraction of those rounded means —
    ``did = (m_t_post − m_t_pre) − (m_c_post − m_c_pre)`` — so both
    engines render it bit-identically. An EMPTY cell raises in-plan
    (a DiD with a missing cell is undefined; silence would render a
    NULL that an oracle's engine may fold differently); NULL unit/ts
    raise for the concat_ws/ordering reasons the family documents.

    Shape (100 TB): ONE map-side-combined 4-row aggregate over the
    corpus — nothing else moves. Returns ONE row:
    (n_c_pre, n_c_post, n_t_pre, n_t_post, m_c_pre_micro,
    m_c_post_micro, m_t_pre_micro, m_t_post_micro, did_micro).
    """
    unit_checked = F.when(
        F.col(unit_col).isNull() | F.col(ts_col).isNull(),
        F.raise_error(
            F.lit(f"diff_in_diff: NULL {unit_col}/{ts_col}")
        ),
    ).otherwise(F.col(unit_col).cast("string"))
    # NULL metric values raise: sum() would silently skip them while the
    # row still counts in _n, skewing the mean — and a cell of ONLY
    # NULLs would surface as a misleading 'empty cell' raise with no
    # oracle mirror (review finding)
    value_checked = F.when(
        value_micro.isNull(),
        F.raise_error(F.lit("diff_in_diff: NULL metric value")),
    ).otherwise(value_micro)
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", unit_checked, F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    period = F.when(
        F.col(ts_col) < F.lit(cut).cast("timestamp"), F.lit(0)
    ).otherwise(F.lit(1))
    cells = (
        df.select(
            variant.alias("_v"), period.alias("_p"), value_checked.alias("_x")
        )
        .groupBy("_v", "_p")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr("sum(CAST(_x AS DECIMAL(38,0)))").alias("_s"),
        )
        .withColumn(
            "_m", F.expr("CAST((2 * _s + _n) div (2 * _n) AS BIGINT)")
        )
    )

    def cell(v, p, col):
        c = F.max(F.when((F.col("_v") == v) & (F.col("_p") == p), F.col(col)))
        return F.when(
            c.isNull(),
            F.raise_error(
                F.lit(
                    f"diff_in_diff: empty cell variant={v} period={p} — "
                    "the estimator is undefined"
                )
            ),
        ).otherwise(c)

    return cells.agg(
        cell(0, 0, "_n").alias("n_c_pre"),
        cell(0, 1, "_n").alias("n_c_post"),
        cell(1, 0, "_n").alias("n_t_pre"),
        cell(1, 1, "_n").alias("n_t_post"),
        cell(0, 0, "_m").alias("m_c_pre_micro"),
        cell(0, 1, "_m").alias("m_c_post_micro"),
        cell(1, 0, "_m").alias("m_t_pre_micro"),
        cell(1, 1, "_m").alias("m_t_post_micro"),
    ).select(
        "*",
        F.expr(
            "(m_t_post_micro - m_t_pre_micro)"
            " - (m_c_post_micro - m_c_pre_micro)"
        ).alias("did_micro"),
    )


def ltv_curve(
    events: DataFrame,
    value_micro: Column,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain_days: int = 7,
) -> DataFrame:
    """Cumulative cohort revenue curve (the LTV triangle) — the growth
    family's MONEY twin of :func:`retention_cohorts`: each first-
    activity cohort's cumulative revenue per cohort user at every later
    period offset. The curve every payback/CAC decision reads; the
    retention triangle says who is still here, this says what they have
    been worth so far.

    Exactness: the retention family's calendar conventions verbatim
    (date-trunc'd anchors, integer day-diff offsets floor-divided by
    the grain) + exact integer micro revenue; the per-user value is
    the house round-half-up division of the running cohort total by
    the FIXED cohort size. NULL user/ts rows are filtered (the
    retention convention); NULL values simply contribute nothing in
    both engines.

    Shape (100 TB): exchange 1 = the map-side-combined
    (user, period) revenue fold (bounded by users × calendar length);
    exchange 2 = the user window for the cohort anchor over that
    already-aggregated table; the (cohort, offset) fold and the
    running-total window act on cohorts × offsets rows. Offsets with
    zero revenue simply do not appear — identical in both engines, and
    the cumulative sum is over the offsets that do.

    Returns (cohort, period_offset, cohort_size, rev_micro,
    cum_rev_micro, ltv_micro) with cohort an ISO yyyy-MM-dd string.
    """
    if grain_days not in (1, 7):
        raise ValueError(f"grain_days must be 1 or 7, got {grain_days}")
    trunc = "week" if grain_days == 7 else "day"
    per = (
        events.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("u"),
            F.date_trunc(trunc, F.col(ts_col)).alias("period"),
            value_micro.alias("x"),
        )
        .groupBy("u", "period")
        .agg(F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("s"))
    )
    wu = Window.partitionBy("u")
    uw = per.withColumn("cohort", F.min("period").over(wu))
    # the cohort size rides the SAME fold as the revenue cells: each
    # user's first-period row lands at offset 0 by construction, so
    # counting those rows per (cohort, offset) and reading the offset-0
    # value back via a window over the TINY cell table (the
    # retention_cohorts trick) avoids a second pass over uw — the
    # double-pay pattern this round's pruned_tf fix closed for bm25
    # (review finding)
    cell = uw.select(
        "cohort",
        F.expr(f"datediff(period, cohort) div {int(grain_days)}").alias(
            "period_offset"
        ),
        "s",
        F.when(F.col("period") == F.col("cohort"), 1).otherwise(0).alias(
            "_first"
        ),
    ).groupBy("cohort", "period_offset").agg(
        F.expr("CAST(sum(s) AS DECIMAL(38,0))").alias("rev"),
        F.sum("_first").alias("_n_first"),
    )
    wcoh = Window.partitionBy("cohort")
    wc = (
        Window.partitionBy("cohort")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("period_offset") == 0, F.col("_n_first"))
            ).over(wcoh),
        )
        .withColumn("cum", F.sum("rev").over(wc))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "period_offset",
            "cohort_size",
            F.expr("CAST(rev AS BIGINT)").alias("rev_micro"),
            F.expr("CAST(cum AS BIGINT)").alias("cum_rev_micro"),
            F.expr(
                "CAST((2 * cum + cohort_size) div (2 * cohort_size)"
                " AS BIGINT)"
            ).alias("ltv_micro"),
        )
    )


def uplift_deciles(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    cut: str,
    convert_type: str = "purchase",
    n_tiles: int = 10,
    salt: str = "up0",
    bucket_shift: int = 2,
) -> DataFrame:
    """Uplift by score decile (the Qini/uplift-curve point table) — the
    eval readout for TARGETING decisions: rank units by a score, split
    each tile into its randomized treatment/control halves, and read
    the conversion LIFT per tile. A model (or heuristic) is worth
    deploying where the top tiles' uplift beats the bottom's — mean
    treatment effect alone (the QTE/DiD readouts) cannot say WHO to
    treat. The rank family's sixth consumer (after deciles / RFM /
    quantiles / qnorm / QTE): the score ranking runs through
    :func:`bucketed_global_rank`, never a single-partition sort.

    Deterministic everything: score = the unit's PRE-period activity
    count (the classic targeting feature, derived from the data);
    variant = the family's md5 unit split; response = any post-period
    ``convert_type`` event. Tiles are exact integer rank cuts
    ``((rank−1)·n_tiles) div n``; conversion rates are round-half-up
    per-mille; uplift is their integer difference. A tile with an
    EMPTY arm raises in-plan (its lift is 0/0; silence would render a
    NULL row — with a deterministic split this is a data-size
    contract, not a flake). NULL unit/ts raise.

    Shape (100 TB): ONE map-side-combined user fold (pre-count,
    post-conversions) over the corpus; the rank machinery's
    bucket-keyed exchange over the USER-level table; one n_tiles-row
    aggregate. Returns (tile, n_treat, n_ctrl, conv_treat_pm,
    conv_ctrl_pm, uplift_pm) sorted by nothing (callers order).
    """
    if n_tiles < 2:
        raise ValueError(f"uplift_deciles: n_tiles must be >= 2, got {n_tiles}")
    unit_checked = F.when(
        F.col(user_col).isNull() | F.col(ts_col).isNull(),
        F.raise_error(F.lit(f"uplift_deciles: NULL {user_col}/{ts_col}")),
    ).otherwise(F.col(user_col).cast("string"))
    pre = F.col(ts_col) < F.lit(cut).cast("timestamp")
    users = (
        events.select(
            unit_checked.alias("u"),
            F.when(pre, 1).otherwise(0).alias("is_pre"),
            F.when(
                (~pre) & (F.col(type_col) == convert_type), 1
            ).otherwise(0).alias("is_conv"),
        )
        .groupBy("u")
        .agg(
            F.sum("is_pre").cast("long").alias("score"),
            F.max("is_conv").alias("converted"),
        )
    )
    ranked = bucketed_global_rank(
        users, "score", tiebreak="u", bucket_shift=int(bucket_shift)
    )
    variant = (
        F.conv(
            F.substring(F.md5(F.concat_ws("#", F.col("u"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    tiles = ranked.select(
        F.expr(f"((global_rank - 1) * {int(n_tiles)}) div n_total").alias(
            "tile"
        ),
        variant.alias("v"),
        "converted",
    ).groupBy("tile").agg(
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_treat"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_ctrl"),
        F.sum(F.when(F.col("v") == 1, F.col("converted")).otherwise(0)).alias(
            "_ct"
        ),
        F.sum(F.when(F.col("v") == 0, F.col("converted")).otherwise(0)).alias(
            "_cc"
        ),
    )
    # the raise must live INSIDE the division operands: a separate
    # guard column is not ordered before the other columns' divisions,
    # so an empty arm would surface as DIVIDE_BY_ZERO instead of the
    # contract message
    def _arm(col):
        return F.when(
            (F.col("n_treat") == 0) | (F.col("n_ctrl") == 0),
            F.raise_error(
                F.lit(
                    "uplift_deciles: a tile has an empty treatment/"
                    "control arm — too few units for this n_tiles"
                )
            ),
        ).otherwise(F.col(col))

    checked = tiles.select(
        "tile",
        _arm("n_treat").alias("n_treat"),
        _arm("n_ctrl").alias("n_ctrl"),
        "_ct",
        "_cc",
    )
    return checked.select(
        "tile",
        "n_treat",
        "n_ctrl",
        F.expr(
            "CAST((2 * 1000 * _ct + n_treat) div (2 * n_treat) AS BIGINT)"
        ).alias("conv_treat_pm"),
        F.expr(
            "CAST((2 * 1000 * _cc + n_ctrl) div (2 * n_ctrl) AS BIGINT)"
        ).alias("conv_ctrl_pm"),
        F.expr(
            "CAST((2 * 1000 * _ct + n_treat) div (2 * n_treat)"
            " - (2 * 1000 * _cc + n_ctrl) div (2 * n_ctrl) AS BIGINT)"
        ).alias("uplift_pm"),
    )
